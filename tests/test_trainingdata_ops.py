"""Training-data pipeline operators: dedup, similarity, text analysis —
unit tests with hand-computable oracles plus DuckDB cross-checks on the
real testdata tables."""

from __future__ import annotations

import math
import os
from decimal import Decimal

import duckdb
import pyspark.sql.functions as F
import pytest

from crawlspark import dedup, similarity, textops

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "a b c d e"),
        (1, "a b c d e"),          # exact dup of 0
        (2, "a b c d x"),          # near dup of 0 (shares 'a b c', 'b c d')
        (3, "q r s t u v"),        # unrelated
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark, docs):
    out = {r["keep_doc_id"]: r["n_copies"] for r in dedup.exact_dedup(docs).collect()}
    assert out[0] == 2 and out[2] == 1 and out[3] == 1


def test_ngram_jaccard_hand_computed(spark, docs):
    # doc0 shingles(k=3): {abc,bcd,cde}; doc2: {abc,bcd,cdx}; J = 2/4 = 0.5
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.4).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert pairs[(0, 2)] == 0.5
    assert (0, 3) not in pairs


def test_minhash_lsh_finds_exact_and_near_dups(spark, docs):
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(docs, n_hashes=16, bands=8, threshold=0.4).collect()
    }
    assert (0, 1) in got            # identical signatures always collide
    assert (0, 3) not in got


def test_minhash_signature_identical_for_identical_text(spark, docs):
    sig = {r["doc_id"]: r["signature"] for r in dedup.minhash_signatures(docs, 8).collect()}
    assert sig[0] == sig[1]
    assert sig[0] != sig[3]


def test_simhash_groups(spark, docs):
    groups = dedup.simhash_dup_groups(docs).collect()
    assert any(g["n_docs"] == 2 and g["keep_doc_id"] == 0 for g in groups)


def test_cosine_topk_matches_numpy(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.randn(20, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(20)], ["vec_id", "embedding"]
    )
    got = similarity.cosine_topk(df, query_ids=[0], k=3).collect()
    sims = vecs @ vecs[0] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[0]))
    order = [i for i in np.argsort(-sims) if i != 0][:3]
    assert [r["neighbor_id"] for r in got] == order
    for r in got:
        assert abs(r["cosine"] - round(float(sims[r["neighbor_id"]]), 6)) < 1e-5


def test_lsh_topk_subset_of_bucket(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = similarity.lsh_topk(emb, query_ids=[0, 1], k=5).collect()
    assert out, "LSH bucket should contain at least one neighbor"
    # every returned neighbor shares the query's sign bucket
    rows = {r["vec_id"]: r["embedding"] for r in emb.filter(F.col("vec_id") < 200).collect()}
    def bucket(v):
        return tuple(x >= 0 for x in v[:4])
    for r in out:
        if r["neighbor_id"] in rows and r["query_id"] in rows:
            assert bucket(rows[r["neighbor_id"]]) == bucket(rows[r["query_id"]])


def test_cosine_matches_duckdb_on_real_embeddings(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in similarity.cosine_topk(emb, query_ids=[0], k=5).collect()
    }
    con = duckdb.connect()
    want = con.execute(
        f"""
        SELECT 0 AS query_id, b.vec_id AS neighbor_id,
               round(list_cosine_similarity(a.embedding, b.embedding), 6) AS cosine
        FROM '{SF_DIR}/embeddings.parquet' a, '{SF_DIR}/embeddings.parquet' b
        WHERE a.vec_id = 0 AND b.vec_id != 0
        ORDER BY cosine DESC, neighbor_id LIMIT 5
        """
    ).fetchall()
    for q, n, c in want:
        assert (q, n) in got
        assert math.isclose(got[(q, n)], c, abs_tol=2e-6)


def test_textops_profile(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    prof = textops.profile(d)
    row = prof.filter(F.col("doc_id") == 0).collect()[0]
    assert row["n_tokens"] > 0
    assert 0 < row["avg_token_len"] < 20
    assert 0.0 <= row["quality"] <= 1.0
    assert len(row["fingerprint"]) == 32
    # fingerprint matches duckdb md5 of the same normalization
    con = duckdb.connect()
    want = con.execute(
        f"""SELECT md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))
            FROM '{SF_DIR}/documents.parquet' WHERE doc_id = 0"""
    ).fetchone()[0]
    assert row["fingerprint"] == want


def test_ivf_topk_recall_vs_brute_force(spark):
    """IVF ANN: nprobe=4/16 cells must recover most of the exact top-5
    (recall >= 0.5 on random-ish embeddings; =1.0 when nprobe=nlist)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qids = [0, 1, 2]
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(emb, query_ids=qids, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(emb, query_ids=qids, k=5, nlist=8, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"recall {recall}"
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(emb, query_ids=qids, k=5, nlist=8, nprobe=8).collect()
    }
    assert full == exact  # probing every cell == brute force


def test_simhash64_spark_matches_pure_python(spark):
    """The 64-bit pandas-UDF SimHash must equal an independent pure-Python
    fold of the same contract (k-gram md5 16-hex bit votes)."""
    import hashlib

    def pure(s: str, k: int = 3) -> int:
        toks = s.split(" ")
        grams = ([" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
                 if len(toks) >= k else [" ".join(toks)])
        votes = [0] * 64
        for g in grams:
            h = int(hashlib.md5(g.encode()).hexdigest()[:16], 16)
            for b in range(64):
                votes[b] += 1 if (h >> b) & 1 else -1
        v = sum(1 << b for b in range(64) if votes[b] > 0)
        return v - (1 << 64) if v >= (1 << 63) else v

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20)
    got = {r["doc_id"]: r["sh"] for r in
           d.select("doc_id", dedup.simhash64_col(F.col("text")).alias("sh")).collect()}
    want = {r["doc_id"]: pure(r["text"]) for r in d.collect()}
    assert got == want


def test_simhash64_chunked_fold_identical(spark, monkeypatch):
    """ADVICE r3: the vectorized fold is memory-bounded via sub-chunking
    (MAX_FOLD_GRAMS). Shrinking the cap to force a fold every few grams
    must produce bit-identical hashes to the single-fold path."""
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(40)
    base = {r["doc_id"]: r["sh"] for r in
            d.select("doc_id", dedup.simhash64_col(F.col("text")).alias("sh")).collect()}
    monkeypatch.setattr(dedup, "MAX_FOLD_GRAMS", 7)  # several folds per batch
    chunked = {r["doc_id"]: r["sh"] for r in
               d.select("doc_id", dedup.simhash64_col(F.col("text")).alias("sh")).collect()}
    assert chunked == base


def test_simhash64_banded_pairs(spark):
    """Banding must find exact dups (hamming 0) and near-identical texts,
    and must never emit a pair whose true hamming exceeds the bound."""
    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again ok"),
        (1, "the quick brown fox jumps over the lazy dog again and again ok"),
        (2, "completely different content about spark shuffle partitions x y"),
        (3, "the quick brown fox jumps over the lazy dog again and again no"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in dedup.simhash64_pairs_banded(d, k=3, bands=4, max_hamming=3).collect()}
    assert pairs.get((0, 1)) == 0          # exact dup
    assert all(h <= 3 for h in pairs.values())
    assert (0, 2) not in pairs and (1, 2) not in pairs

    with pytest.raises(ValueError):        # pigeonhole guard
        dedup.simhash64_pairs_banded(d, bands=4, max_hamming=4)


def test_minhash_lsh_verify_is_candidate_only(spark):
    """The verify join must be bounded by LSH candidates: the shingle
    index is restricted with a semi-join on candidate docs (round 1
    recomputed all-pairs Jaccard corpus-wide, defeating LSH).

    r6: the candidate-bounded sized index is CHECKPOINTED inside
    verify_jaccard_pairs (it feeds both intersection-join sides), so the
    LeftSemi executes during that materialization and the final plan
    reads the bounded relation back as an ExistingRDD scan — assert the
    boundary AND that no corpus re-scan (documents parquet FileScan)
    survives above it; the semi-join itself is pinned on the
    pre-checkpoint shape via shingle_index + the same joins."""
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = dedup.minhash_lsh_pairs(d, n_hashes=16, bands=4, threshold=0.2, max_df=100)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan          # materialization boundary
    assert "documents.parquet" not in plan     # nothing corpus-wide above it
    # the pre-checkpoint shape (what the materialization executes) still
    # semi-joins the index down to candidate docs
    from pyspark.sql import functions as F

    idx = dedup.shingle_index(d, 3, 100)
    cand = spark.createDataFrame([(0, 1)], ["doc_a", "doc_b"])
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    semi_plan = (
        idx.join(cand_docs, "doc_id", "left_semi")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftSemi" in semi_plan


def test_dup_clusters_hand_computed(spark):
    """Components: {1,2,3} chained (1-2, 2-3), {7,9}, isolated pairs only —
    min-label propagation must find min reachable id, incl. transitivity."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (4, 8), (3, 5)], ["doc_a", "doc_b"]
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dedup.dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 1, 7: 7, 9: 7, 4: 4, 8: 4}

    with pytest.raises(RuntimeError):  # loud non-convergence
        # a 40-long chain with max_iters=2 cannot converge
        chain = spark.createDataFrame([(i, i + 1) for i in range(40)], ["doc_a", "doc_b"])
        dedup.dup_clusters(chain, max_iters=2)

    # fractional ids: cast to decimal(38,0) the label sum cannot see
    # 1.3 -> 1.2 -> 1.1 (1.1 and 1.2 both round to 1), so they must take
    # the join convergence probe
    frac = spark.createDataFrame([(1.1, 1.2), (1.2, 1.3)], ["doc_a", "doc_b"])
    got = {r["doc_id"]: r["cluster_id"] for r in dedup.dup_clusters(frac).collect()}
    assert got == {1.1: 1.1, 1.2: 1.1, 1.3: 1.1}

    # integral decimal ids whose label sum overflows decimal(38,0): a null
    # sum is never read as converged
    big = [Decimal(6 * 10**37 + i) for i in range(3)]
    huge = spark.createDataFrame(
        [(big[1], big[2]), (big[2], big[0])], "doc_a decimal(38,0), doc_b decimal(38,0)"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dedup.dup_clusters(huge).collect()}
    assert got == {b: big[0] for b in big}


def test_dup_clusters_string_ids(spark):
    """Non-numeric node ids take the JOIN convergence probe (the r6
    label-sum invariant applies only to numeric labels) — propagation
    semantics must be identical: min LEXICOGRAPHIC id per component,
    including transitivity across a 2-hop chain."""
    pairs = spark.createDataFrame(
        [("b", "c"), ("c", "a"), ("x", "y")], ["doc_a", "doc_b"]
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dedup.dup_clusters(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_corpus_prep_drops_dups_keeps_canonicals(spark):
    from crawlspark.pipeline import corpus_prep

    en = ("the cat and the dog went to the market for a fish and it is good "
          "that the day is long and the road is dry for all of it")
    rows = [
        (0, en),                      # canonical
        (1, en),                      # exact dup of 0 -> dropped
        (2, en + " extra tail here"), # near dup of 0 -> clustered, dropped
        (3, "zzz qqq rrr sss ttt uuu vvv www"),  # no stopwords -> lang filter
        (4, en.replace("cat", "owl").replace("dog", "hen")
             .replace("fish", "loaf").replace("market", "harbor")
             .replace("road", "trail")),  # english, distinct enough -> kept
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = {r["doc_id"] for r in corpus_prep(d, jaccard_threshold=0.5).collect()}
    assert 0 in kept and 4 in kept
    assert 1 not in kept and 2 not in kept and 3 not in kept


def test_corpus_prep_pluggable_scorer(spark):
    """Verdict r3 item 8: a real model slots in via the TextScorer seam
    without touching pipeline code. A PandasScorer wrapping deterministic
    fake models (executor-side factory, Arrow-batched) must drive the
    SAME pipeline; the heuristic default stays the oracle-checked path."""
    from crawlspark.pipeline import corpus_prep
    from crawlspark.textops import HeuristicScorer, PandasScorer

    en = ("the cat and the dog went to the market for a fish and it is good "
          "that the day is long and the road is dry for all of it")
    d = spark.createDataFrame(
        [(0, en), (1, en), (2, "model says this one is french today")],
        ["doc_id", "text"],
    )

    # heuristic default == explicit HeuristicScorer (same plan, same rows)
    base = {r["doc_id"] for r in corpus_prep(d).collect()}
    heur = {r["doc_id"] for r in corpus_prep(d, scorer=HeuristicScorer()).collect()}
    assert base == heur == {0}  # 1 is an exact dup, 2 fails the en filter

    class FakeModel:
        """Stands in for fastText/KenLM: marks docs containing 'french'
        as fr, scores every doc 1.0."""

        def lang(self, texts):
            return texts.map(lambda t: "fr" if "french" in t else "en")

        def quality(self, texts):
            return texts.map(lambda _t: 1.0)

    got_fr = {r["doc_id"] for r in
              corpus_prep(d, lang="fr", scorer=PandasScorer(FakeModel)).collect()}
    assert got_fr == {2}
    got_en = {r["doc_id"] for r in
              corpus_prep(d, lang="en", scorer=PandasScorer(FakeModel)).collect()}
    assert got_en == {0}  # dedup still drops 1; model reroutes 2 to fr


def test_corpus_prep_with_trained_nb_scorer(spark):
    """Judge r4 #4: the in-engine TRAINED model (nb_lang_id, t69) drives
    the t14-shaped pipeline through the NBScorer adapter — trained on a
    labeled seed set, applied to unlabeled docs via the relational
    annotate hook, end to end through corpus_prep's filter/dedup/cluster
    stages."""
    from crawlspark.pipeline import corpus_prep
    from crawlspark.textops import NBScorer

    en = ("the cat and the dog went to the market for a fish and it is "
          "good that the day is long and the road is dry for all of it")
    fr = ("le chat et le chien vont au marche pour un poisson et il est "
          "bon que le jour est long et la route est seche pour tout cela")
    train = spark.createDataFrame(
        [(100, "en", en), (101, "fr", fr),
         (102, "en", en.replace("cat", "owl")),
         (103, "fr", fr.replace("chat", "vache"))],
        ["doc_id", "lang", "text"],
    )
    docs = spark.createDataFrame(
        [(0, "x", en),                            # en -> kept
         (1, "x", en),                            # exact dup of 0 -> dropped
         (2, "x", fr.replace("poisson", "pain")), # fr -> lang filter drops
         (3, "x", en.replace("market", "harbor").replace("dog", "hen")
                     .replace("cat", "fox").replace("road", "trail")
                     .replace("fish", "loaf"))],  # en, distinct -> kept
        ["doc_id", "lang", "text"],
    )
    kept = {r["doc_id"] for r in
            corpus_prep(docs, lang="en",
                        scorer=NBScorer(train=train)).collect()}
    assert kept == {0, 3}
    kept_fr = {r["doc_id"] for r in
               corpus_prep(docs, lang="fr",
                           scorer=NBScorer(train=train)).collect()}
    assert kept_fr == {2}
    # self-train mode: documents' own labels estimate the model
    kept_self = {r["doc_id"] for r in
                 corpus_prep(docs.drop("lang").withColumn("lang", F.lit("en")),
                             lang="en", scorer=NBScorer()).collect()}
    assert 0 in kept_self and 1 not in kept_self


def test_ivf_sampled_training_still_recalls(spark):
    """Scale path: the coarse quantizer trained on a sample (not the full
    corpus) must keep usable recall — assignment still covers everything."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qids = [0, 1, 2]
    exact = {(r["query_id"], r["neighbor_id"])
             for r in similarity.cosine_topk(emb, query_ids=qids, k=5).collect()}
    sampled = {(r["query_id"], r["neighbor_id"])
               for r in similarity.ivf_topk(emb, query_ids=qids, k=5, nlist=8,
                                            nprobe=4, train_fraction=0.5).collect()}
    assert len(exact & sampled) / len(exact) >= 0.4


def test_line_dedup_corpus_keep_first_and_reconstruct(spark):
    # C4 semantics: 'duplicated line here' appears in docs 0, 1, 2 —
    # only its FIRST occurrence (doc 0, pos 1) survives; short lines
    # ("ok", below min_chars) are exempt and always kept; surviving
    # lines stitch back in original order.
    rows = [
        (0, "alpha beta gamma\nduplicated line here\nok"),
        (1, "duplicated line here\nunique to doc one!"),
        (2, "ok\nduplicated line here\nalpha beta gamma"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in textops.line_dedup_corpus(d, min_chars=5, delimiter="\n").collect()
    }
    assert out[0]["text_deduped"] == "alpha beta gamma\nduplicated line here\nok"
    assert out[0]["n_lines_dropped"] == 0
    assert out[1]["text_deduped"] == "unique to doc one!"
    assert out[1]["n_lines_dropped"] == 1
    # doc 2 loses both long lines (doc 0 owns the firsts), keeps "ok"
    assert out[2]["text_deduped"] == "ok"
    assert out[2]["n_lines_kept"] == 1 and out[2]["n_lines_dropped"] == 2


def test_stratified_sample_deterministic_and_rate_shaped(spark):
    rows = [(i, "t", "hot" if i % 2 == 0 else "cold") for i in range(2000)]
    d = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    rates = {"hot": 0.25, "cold": 1.0}
    a = sorted(r["doc_id"] for r in textops.stratified_sample(d, rates).collect())
    b = sorted(r["doc_id"] for r in textops.stratified_sample(d, rates).collect())
    assert a == b, "sampler must be a deterministic function of (key, salt)"
    kept_hot = sum(1 for i in a if i % 2 == 0)
    kept_cold = sum(1 for i in a if i % 2 == 1)
    assert kept_cold == 1000, "rate 1.0 keeps everything"
    assert 150 <= kept_hot <= 350, f"rate 0.25 of 1000 ~ 250, got {kept_hot}"
    # a different salt re-rolls the coin
    c = sorted(
        r["doc_id"]
        for r in textops.stratified_sample(d, rates, salt="other").collect()
    )
    assert c != a


def test_quality_deciles_partition_and_order(spark):
    rows = [(i, "word " * (i + 1), "en") for i in range(100)]
    d = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = sorted(
        (r["decile"], r["n_docs"], r["min_score"], r["max_score"])
        for r in textops.quality_deciles(d).collect()
    )
    # deciles tile the corpus: counts sum to 100, score ranges are
    # non-overlapping and ascending with the decile number
    assert sum(n for _, n, _, _ in out) == 100
    assert [dec for dec, _, _, _ in out] == sorted({dec for dec, _, _, _ in out})
    for (_, _, _, hi), (_, _, lo, _) in zip(out, out[1:]):
        assert hi <= lo, "decile score ranges must not overlap"


def test_window_dup_stats_hand_computed(spark):
    # doc 0 and 1 share their full 3-token window; doc 2 repeats a window
    # WITHIN itself only (within-doc repeats are not cross-doc dups);
    # doc 3 shares nothing.
    rows = [
        (0, "a b c"),
        (1, "a b c"),
        (2, "x y z x y z x y"),  # windows: 'x y z','y z x','z x y','x y z','y z x','z x y'... none cross-doc
        (3, "p q r s"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textops.window_dup_stats(d, w=3).collect()}
    assert set(out) == {0, 1}, "only the cross-doc shared window triggers"
    for i in (0, 1):
        assert out[i]["n_windows"] == 1
        assert out[i]["n_dup_windows"] == 1
        assert out[i]["dup_fraction"] == 1.0


def test_window_dup_stats_counts_every_position(spark):
    # the shared window 'a b c' occurs twice in doc 0 (positions 0 and 3)
    # and once in doc 1: every POSITION counts toward n_dup_windows
    rows = [(0, "a b c a b c"), (1, "a b c z")]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textops.window_dup_stats(d, w=3).collect()}
    assert out[0]["n_windows"] == 4  # 'a b c','b c a','c a b','a b c'
    assert out[0]["n_dup_windows"] == 2
    assert out[1]["n_dup_windows"] == 1
    assert out[1]["n_windows"] == 2


def test_window_dup_totals_arithmetic_mirrors_shingles_col(spark):
    # window_dup_stats computes n_windows row-locally (token count
    # arithmetic, no explode); this pins that arithmetic to
    # size(shingles_col(...)) — the relation the dup counts are
    # aggregated from — including the short-text and empty-text CASEs.
    rows = [
        (0, "a b c d e f g h i j"),  # 10 tokens, w=8 -> 3 windows
        (1, "a b c d e f g h"),      # exactly w -> 1
        (2, "a b"),                  # shorter than w -> 1 (whole text)
        (3, ""),                     # empty -> 1 ('' window)
        (4, "x " * 500 + "x"),       # long doc
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    for w in (3, 8):
        toks = F.split(F.col("text"), " ")
        n_tok = F.size(toks)
        got = d.select(
            F.when(n_tok >= w, n_tok - w + 1)
            .otherwise(F.lit(1))
            .cast("long")
            .alias("arith"),
            F.size(textops.shingles_col(F.col("text"), w))
            .cast("long")
            .alias("exploded"),
        ).collect()
        for r in got:
            assert r["arith"] == r["exploded"], (w, r)


def test_semdedup_lowest_id_wins(spark):
    # three near-identical vectors (same LSH bucket, cosine ~1) plus one
    # orthogonal-ish vector: 0 is kept, 1 and 2 are removed with 0 as
    # the witness; 3 survives.
    rows = [
        (0, [1.0, 1.0, 0.0, 0.0]),
        (1, [1.0, 0.99, 0.0, 0.0]),
        (2, [0.99, 1.0, 0.0, 0.0]),
        (3, [1.0, -1.0, 0.5, -0.5]),
    ]
    e = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["doc_id"]: r for r in
           similarity.semdedup_removals(e, threshold=0.9).collect()}
    assert set(out) == {1, 2}
    assert out[1]["kept_witness"] == 0 and out[2]["kept_witness"] == 0
    assert out[1]["n_neighbors"] == 1  # only 0 precedes 1
    assert out[2]["n_neighbors"] == 2  # both 0 and 1 precede 2


def test_df_vocabulary_rank_and_idf(spark):
    rows = [
        (0, "the cat sat", "en"),
        (1, "the dog sat sat", "en"),   # within-doc repeat counts once
        (2, "the fish", "en"),
        (3, "le chat", "fr"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = textops.df_vocabulary(d, top_k=2).collect()
    en = sorted((r["rank"], r["term"], r["df"]) for r in out if r["lang"] == "en")
    # 'the' df=3 rank 1; 'sat' df=2 rank 2 (dog/cat/fish df=1 lose)
    assert en == [(1, "the", 3), (2, "sat", 2)]
    the = next(r for r in out if r["lang"] == "en" and r["term"] == "the")
    assert the["n_docs"] == 3 and the["idf"] == 0.0  # ln(3/3)
    fr = [r["term"] for r in out if r["lang"] == "fr"]
    assert sorted(fr) == ["chat", "le"], "strata rank independently"


def test_fuzzy_dedup_removals_drops_non_min(spark, docs):
    # 0 == 1 exactly (every band collides, jaccard 1.0); 2 is near 0
    # (jaccard 2/4 = 0.5 on 3-shingles); 3 unrelated. At threshold 0.2
    # the verified graph is {0-1, 0-2} -> cluster min 0 keeps, 1 and 2 go.
    out = {
        r["removed_doc_id"]: r["keep_doc_id"]
        for r in dedup.fuzzy_dedup_removals(docs, n_hashes=8, bands=4).collect()
    }
    assert out == {1: 0, 2: 0}


def test_token_budget_shares_and_rank(spark):
    rows = [
        (0, "a b c d e f", "en"),   # 6 tokens
        (1, "g h i j", "en"),       # 4 tokens -> en 10
        (2, "x y z", "fr"),         # fr 3
        (3, "u v w", "de"),         # de 3 -> ties break stratum-asc
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {r["stratum"]: r for r in textops.token_budget(d).collect()}
    assert out["en"]["total_tokens"] == 10 and out["en"]["n_docs"] == 2
    assert out["en"]["rank"] == 1 and out["en"]["token_share"] == 0.625
    # de before fr on the stratum-asc tiebreak
    assert out["de"]["rank"] == 2 and out["fr"]["rank"] == 3
    assert out["de"]["cum_share"] == 0.8125 and out["fr"]["cum_share"] == 1.0


def test_incremental_dedup_anti_joins_history(spark):
    new = spark.createDataFrame(
        [(10, "already seen"), (11, "fresh text"), (12, "fresh text")],
        ["doc_id", "text"],
    )
    seen = dedup.exact_dedup(
        spark.createDataFrame([(1, "already seen")], ["doc_id", "text"])
    ).select("fingerprint")
    out = dedup.incremental_exact_dedup(new, seen).collect()
    # 10 is in history; 11/12 collapse in-batch to min doc_id 11
    assert [r["doc_id"] for r in out] == [11]


def test_resolve_redirects_chain_cycle_fork(spark):
    from crawlspark import graph

    edges = [
        ("a", "b"), ("b", "c"),          # chain: a -2-> c, b -1-> c
        ("x", "y"), ("y", "x"),          # 2-cycle: bounces, caps at 4
        ("f", "zz"), ("f", "ab"),        # fork: min(dst) = 'ab' wins
    ]
    d = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["src"]: (r["final_url"], r["n_hops"], r["resolved"])
        for r in graph.resolve_redirects(d, max_hops=4).collect()
    }
    assert got["a"] == ("c", 2, True)
    assert got["b"] == ("c", 1, True)
    # after exactly 4 hops the 2-cycle is back where it started
    assert got["x"] == ("x", 4, False)
    assert got["y"] == ("y", 4, False)
    assert got["f"] == ("ab", 1, True)
    assert len(got) == 5  # 'c' has no outgoing edge -> not a src row


def test_resolve_redirects_matches_python_walk_on_random_graphs(spark):
    """50 seeded random graphs (self-loops, cycles, forks, dangling
    chains all arise naturally), namespaced per case and resolved in ONE
    distributed call, against a sequential pure-Python chain walker."""
    import random

    from crawlspark import graph

    rng = random.Random(7)
    edges, expect = [], {}
    for case in range(50):
        es = [
            (f"c{case}:n{rng.randint(0, 9)}", f"c{case}:n{rng.randint(0, 9)}")
            for _ in range(rng.randint(1, 12))
        ]
        edges += es
        m: dict = {}
        for s, t in es:
            m[s] = min(m.get(s, t), t)
        for s in m:
            cur, hops = m[s], 1
            while hops < 8 and cur in m:
                cur, hops = m[cur], hops + 1
            expect[s] = (cur, hops, cur not in m)
    d = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["src"]: (r["final_url"], r["n_hops"], r["resolved"])
        for r in graph.resolve_redirects(d, max_hops=8).collect()
    }
    assert got == expect


def test_resolve_redirects_rejects_non_power_of_two(spark):
    from crawlspark import graph

    d = spark.createDataFrame([("a", "b")], ["src", "dst"])
    import pytest as _pytest

    with _pytest.raises(ValueError):
        graph.resolve_redirects(d, max_hops=6)


def test_revisit_schedule_policy_branches(spark):
    from crawlspark import scheduler

    rows = [
        # hot: changes every fetch -> interval = base
        ("hot", 0, "a"), ("hot", 1, "b"), ("hot", 2, "c"),
        # cold: never changes over 5 fetches -> backoff 2^4 clamped to 8
        ("cold", 0, "x"), ("cold", 1, "x"), ("cold", 2, "x"),
        ("cold", 3, "x"), ("cold", 4, "x"),
        # half: 1 change in 2 opportunities -> ceil(1/0.5) = 2
        ("half", 0, "p"), ("half", 1, "p"), ("half", 2, "q"),
        # new: single fetch, no evidence -> base
        ("new", 7, "z"),
    ]
    d = spark.createDataFrame(rows, ["url", "round", "fingerprint"])
    got = {
        r["url"]: (
            r["n_fetches"], r["n_changes"], r["change_rate"],
            r["next_interval"], r["next_round"],
        )
        for r in scheduler.revisit_schedule(
            d, base_interval=1, max_interval=8
        ).collect()
    }
    assert got["hot"] == (3, 2, 1.0, 1, 3)
    assert got["cold"] == (5, 0, 0.0, 8, 12)
    assert got["half"] == (3, 1, 0.5, 2, 4)
    assert got["new"] == (1, 0, None, 1, 8)


def test_sitemap_urls_case_and_page_filter(spark):
    from crawlspark import robots

    rows = [
        (
            "https://a.com/robots.txt",
            "User-agent: *\nDisallow: /x\nSitemap: https://a.com/s1.xml\n"
            "sitemap:\thttps://a.com/s2.xml\nSITEMAP: https://a.com/s3.xml",
        ),
        # a content page mentioning Sitemap: must be ignored
        ("https://a.com/page", "Sitemap: https://nope.com/s.xml"),
        # robots without sitemap lines contributes nothing
        ("https://b.com/robots.txt", "User-agent: *\nAllow: /"),
        # duplicate robots snapshot: distinct collapses it
        (
            "https://a.com/robots.txt",
            "Sitemap: https://a.com/s1.xml",
        ),
    ]
    d = spark.createDataFrame(rows, ["url", "text"])
    got = sorted(map(tuple, robots.sitemap_urls(d).collect()))
    assert got == [
        ("a.com", "https://a.com/s1.xml"),
        ("a.com", "https://a.com/s2.xml"),
        ("a.com", "https://a.com/s3.xml"),
    ]


def test_host_link_graph_resolution_and_weights(spark):
    from crawlspark import graph

    rows = [
        (
            "https://a.com/p1",
            '<a href="https://b.com/x">1</a><a href="https://b.com/y">2</a>'
            '<a href="/local">3</a><a href="//c.com/z">4</a>',
        ),
        ("https://a.com/p2", '<a href="http://b.com/w">5</a>'),
        ("https://b.com/p3", '<a href="https://a.com/">6</a>no links here'),
    ]
    d = spark.createDataFrame(rows, ["url", "html"])
    got = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in graph.host_link_graph(d).collect()
    }
    # /local resolves to a.com (self) and is dropped; b.com repeats sum
    assert got == {
        ("a.com", "b.com"): 3,
        ("a.com", "c.com"): 1,
        ("b.com", "a.com"): 1,
    }
    with_self = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in graph.host_link_graph(d, include_self=True).collect()
    }
    assert with_self[("a.com", "a.com")] == 1


def test_transition_edges_weights(spark):
    from crawlspark import graph

    rows = [
        (0, 1, 1, "a"), (1, 2, 1, "b"), (2, 3, 1, "a"),   # user 1: a->b->a
        (3, 1, 2, "a"), (4, 2, 2, "b"),                   # user 2: a->b
    ]
    ev = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    out = {(r["src"], r["dst"]): r["weight"] for r in graph.transition_edges(ev).collect()}
    assert out == {("a", "b"): 2.0, ("b", "a"): 1.0}


def test_pagerank_matches_pure_python(spark):
    from crawlspark import graph

    edges = [("hub", "s1", 1.0), ("hub", "s2", 1.0), ("s1", "hub", 1.0),
             ("s2", "hub", 1.0), ("s2", "s1", 1.0)]
    e = spark.createDataFrame(edges, ["src", "dst", "weight"])
    got = {r["node"]: r["pagerank"] for r in graph.pagerank(e, iters=3).collect()}

    # the identical recurrence, sequentially
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    n, d = len(nodes), 0.85
    outw = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0.0) + w
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(3):
        contrib = {v: 0.0 for v in nodes}
        for s, t, w in edges:
            contrib[t] += pr[s] * (w / outw[s])
        pr = {v: round((1.0 - d) / n + d * contrib[v], 9) for v in nodes}
    want = {v: round(p, 6) for v, p in pr.items()}
    assert got == want
    assert max(got, key=got.get) == "hub"  # the link hub outranks spokes


def test_decontaminate_removes_probe_and_hits(spark):
    rows = [
        (0, "benchmark question one two three"),   # the probe itself
        (1, "benchmark question one two plus"),    # shares 2 shingles -> dropped
        (2, "completely unrelated text here now"), # kept
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    probe = d.filter(d.doc_id == 0)
    out = [r["doc_id"] for r in textops.decontaminate(d, probe).collect()]
    assert out == [2]


def test_url_filter_first_fail_attribution(spark):
    from crawlspark import urlfilter

    rows = [
        (0, "https://ads.example.com/a/" + "9" * 40),  # blocked wins over digits
        (1, "https://ok.example.com/img/photo.jpg"),
        (2, "https://ok.example.com/" + "x" * 300),
        (3, "https://ok.example.com/p?a=1&b=2&c=3&d=4&e=5"),
        (4, "https://ok.example.com/" + "7" * 40),
        (5, "https://ok.example.com/fine/page"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "url"])
    got = {
        r["doc_id"]: (r["host"], r["first_fail"], r["keep"])
        for r in urlfilter.url_filter(
            d, blocked_hosts=["ads.example.com"], max_len=120, max_params=4
        ).collect()
    }
    assert got[0] == ("ads.example.com", "blocked_domain", False)
    assert got[1] == ("ok.example.com", "bad_extension", False)
    assert got[2] == ("ok.example.com", "too_long", False)
    assert got[3] == ("ok.example.com", "too_many_params", False)
    assert got[4] == ("ok.example.com", "digit_heavy", False)
    assert got[5] == ("ok.example.com", "kept", True)


def test_url_filter_blocklist_df_matches_literal_path(spark):
    from crawlspark import urlfilter

    rows = [
        (0, "https://ads.example.com/x"),
        (1, "https://fine.example.com/x"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "url"])
    lit = urlfilter.url_filter(d, blocked_hosts=["ads.example.com"])
    bdf = urlfilter.url_filter(
        d, blocked_hosts_df=spark.createDataFrame(
            [("ads.example.com",)], ["host"]
        )
    )
    cols = ["doc_id", "host", "first_fail", "keep"]
    assert sorted(map(tuple, lit.select(cols).collect())) == sorted(
        map(tuple, bdf.select(cols).collect())
    )


def test_domain_stats_dup_rate_and_verdict(spark):
    rows = [
        (0, "a", "dup dup"),      # corpus-wide fp appears 3x (incl. b's)
        (1, "a", "dup dup"),
        (2, "a", "solo"),
        (3, "b", "dup dup"),      # mirror: counts as dup for b too
        (4, "b", "other"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    got = {
        r["stratum"]: r.asDict()
        for r in textops.domain_stats(
            d, by="source", max_dup_rate=0.5, min_mean_quality=0.0
        ).collect()
    }
    a, b = got["a"], got["b"]
    assert (a["n_docs"], a["n_dup_docs"]) == (3, 2)
    assert abs(a["dup_rate"] - 0.666667) < 1e-9 and a["keep"] is False
    assert (b["n_docs"], b["n_dup_docs"]) == (2, 1)
    assert abs(b["dup_rate"] - 0.5) < 1e-9 and b["keep"] is True
    assert abs(a["mean_tokens"] - 1.666667) < 1e-9
    assert abs(b["mean_tokens"] - 1.5) < 1e-9


def test_url_trap_stats_template_explosion(spark):
    from crawlspark import urlfilter

    rows = [
        (0, "https://a.example.com/cal/1"),
        (1, "https://a.example.com/cal/2"),
        (2, "https://a.example.com/cal/37"),
        (3, "https://a.example.com/about"),
        (4, "https://b.example.com/x"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "url"])
    got = {
        (r["host"], r["template"]): (
            r["n_urls"], r["host_share"], r["is_trap"]
        )
        for r in urlfilter.url_trap_stats(d, min_urls=3).collect()
    }
    # digit runs of any length collapse to one D: /cal/1, /cal/2, /cal/37
    # all share template /cal/D and flag as the trap
    assert got[("a.example.com", "/cal/D")] == (3, 0.75, True)
    assert got[("a.example.com", "/about")] == (1, 0.25, False)
    assert got[("b.example.com", "/x")] == (1, 1.0, False)
    assert len(got) == 3


def test_url_filter_report_shares_sum_to_one(spark):
    from crawlspark import urlfilter

    rows = [(i, f"https://h{i % 2}.example.com/p") for i in range(3)] + [
        (9, "https://h0.example.com/a.zip")
    ]
    d = spark.createDataFrame(rows, ["doc_id", "url"])
    rep = urlfilter.url_filter_report(urlfilter.url_filter(d)).collect()
    by = {r["first_fail"]: r for r in rep}
    assert by["kept"]["n_urls"] == 3 and by["bad_extension"]["n_urls"] == 1
    assert abs(sum(r["share"] for r in rep) - 1.0) < 1e-9


def test_quality_funnel_first_fail_partition(spark):
    rows = [
        (0, "short doc", "en"),                                # too_short (2 tokens)
        (1, " ".join(f"w{i}" for i in range(40)), "de"),       # lang_filtered
        (2, " ".join(f"w{i}" for i in range(41)), "en"),       # kept (distinct ratio 1.0)
        (3, " ".join(["dup"] * 40), "en"),                     # repetitive (ratio 1/40)
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = {
        r["verdict"]: (r["n_docs"], r["n_tokens"])
        for r in textops.quality_funnel(
            d,
            min_tokens=10,
            max_tokens=1000,
            allowed_langs=("en",),
            min_quality=0.0,
            min_distinct_ratio=0.3,
        ).collect()
    }
    assert got["too_short"] == (1, 2)
    assert got["lang_filtered"] == (1, 40)
    assert got["repetitive"] == (1, 40)
    assert got["kept"] == (1, 41)
    assert sum(n for n, _ in got.values()) == 4  # a partition of the corpus


def test_sequence_packing_straddle_and_shards(spark):
    # one shard, one bucket: doc order 0,1,2 with 3/3/3 tokens, budget 4:
    # cumsum-starts 0,3,6 -> seqs 0,0,1 (doc 1 straddles the boundary and
    # stays in the sequence where it STARTS)
    rows = [(i, "a b c", "en") for i in range(3)]
    d = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = {
        (r["shard"], r["bucket"], r["seq_id"]): (
            r["n_docs"], r["seq_tokens"], r["first_doc"], r["last_doc"]
        )
        for r in textops.sequence_packing(
            d, budget_tokens=4, n_buckets=1
        ).collect()
    }
    assert got[("en", 0, 0)] == (2, 6, 0, 1)
    assert got[("en", 0, 1)] == (1, 3, 2, 2)
    # different langs never pack together
    d2 = spark.createDataFrame(
        [(0, "a b", "en"), (1, "a b", "fr")], ["doc_id", "text", "lang"]
    )
    shards = {
        r["shard"]
        for r in textops.sequence_packing(d2, budget_tokens=4, n_buckets=1).collect()
    }
    assert shards == {"en", "fr"}


def test_packed_sequences_text_and_writer(spark, tmp_path):
    # same fixture as the plan test: 3 docs x 3 tokens, budget 4 ->
    # seq 0 holds docs 0,1 (straddle), seq 1 holds doc 2
    rows = [(i, f"a{i} b{i} c{i}", "en") for i in range(3)]
    d = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = {
        (r["shard"], r["bucket"], r["seq_id"]): (
            r["n_docs"], r["seq_tokens"], r["first_doc"], r["text"]
        )
        for r in textops.packed_sequences(d, budget_tokens=4, n_buckets=1).collect()
    }
    # packed text is the member docs space-joined in doc_id order, so
    # seq_tokens is exactly the token count of the packed text
    assert got[("en", 0, 0)] == (2, 6, 0, "a0 b0 c0 a1 b1 c1")
    assert got[("en", 0, 1)] == (1, 3, 2, "a2 b2 c2")

    # the writer: shard=<lang>/ layout, read-back equals the relation,
    # maxRecordsPerFile honored (per-seq estimate 4 tok x 1 B = 4 B;
    # 1 MB target -> huge cap; force 1 row/file with a tiny target via
    # avg_token_bytes making per_seq_bytes > target bytes)
    out = str(tmp_path / "packed")
    textops.write_packed_sequences(
        d, out, budget_tokens=4, n_buckets=1,
        target_file_mb=1, avg_token_bytes=1 << 20,
    )
    import glob
    assert glob.glob(out + "/shard=en/*.parquet")
    back = spark.read.parquet(out)
    got_back = {
        (r["shard"], r["bucket"], r["seq_id"]): (r["n_docs"], r["text"])
        for r in back.collect()
    }
    assert got_back == {
        ("en", 0, 0): (2, "a0 b0 c0 a1 b1 c1"),
        ("en", 0, 1): (1, "a2 b2 c2"),
    }
    # rows_per_file floored to 1 -> one sequence per file
    assert len(glob.glob(out + "/shard=en/*.parquet")) == 2


def test_host_boilerplate_removal_hand_semantics(spark):
    rows = [
        # host A: "Nav" in 3/3 docs (removed), "Often" in 2/3 (removed at
        # frac 0.5), "Rare" in 1/3 (kept), unique lines kept
        (1, "a.com", "Nav\nOften\nu1"),
        (2, "a.com", "Nav\nOften\nRare\nu2"),
        (3, "a.com", "Nav\nu3\n\nu3b"),  # blank line exempt, kept
        # host B: same "Nav" text but only 1/2 docs -> frac 0.5 BUT
        # min_docs=2 not met -> kept; B's own banner removed
        (4, "b.com", "Nav\nBanner"),
        (5, "b.com", "Banner\nu5"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "host", "text"])
    got = {
        r.doc_id: (r.text_cleaned, r.n_lines_kept, r.n_lines_dropped)
        for r in textops.host_boilerplate_removal(df).collect()
    }
    assert got[1] == ("u1", 1, 2)
    assert got[2] == ("Rare\nu2", 2, 2)
    assert got[3] == ("u3\n\nu3b", 3, 1)
    assert got[4] == ("Nav", 1, 1)  # B's Nav survives (min_docs)
    assert got[5] == ("u5", 1, 1)


def test_host_boilerplate_within_doc_repeat_counts_once(spark):
    # "X" twice in doc 1, once in doc 2 -> doc frequency 2/3 < min_doc_frac
    # 0.7 -> kept everywhere (in-row distinct, not occurrence count)
    rows = [
        (1, "h", "X\nX\nu1"),
        (2, "h", "X\nu2"),
        (3, "h", "u3"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "host", "text"])
    got = {
        r.doc_id: r.text_cleaned
        for r in textops.host_boilerplate_removal(
            df, min_doc_frac=0.7
        ).collect()
    }
    assert got == {1: "X\nX\nu1", 2: "X\nu2", 3: "u3"}
    # at 0.5 it crosses the threshold and every occurrence goes
    got2 = {
        r.doc_id: r.text_cleaned
        for r in textops.host_boilerplate_removal(
            df, min_doc_frac=0.5
        ).collect()
    }
    assert got2 == {1: "u1", 2: "u2", 3: "u3"}


def test_page_metadata_variants(spark):
    rows = [
        ("u1", '<title> Hi </title><meta charset="utf-8">'
               '<meta name="description" content="d1">'),
        # http-equiv fallback + uppercase tag, case-insensitive match
        ("u2", '<TITLE>T2</TITLE><meta http-equiv="Content-Type" '
               'content="text/html; charset=ISO-8859-1">'),
        ("u3", "<body>no fields</body>"),
        # meta charset beats http-equiv when both present
        ("u4", '<meta charset=WINDOWS-1252><meta http-equiv="Content-Type"'
               ' content="text/html; charset=utf-8">'),
    ]
    df = spark.createDataFrame(rows, ["url", "html"])
    got = {r.url: r for r in textops.page_metadata(df).collect()}
    assert (got["u1"].title, got["u1"].meta_description,
            got["u1"].charset) == ("Hi", "d1", "utf-8")
    assert (got["u2"].title, got["u2"].charset) == ("T2", "iso-8859-1")
    assert (got["u3"].title, got["u3"].meta_description,
            got["u3"].charset) == (None, None, None)
    assert got["u4"].charset == "windows-1252"
    assert got["u3"].n_bytes == len(rows[2][1])


def test_outlink_stats_zero_shuffle_and_counts(spark):
    from crawlspark import graph as gr
    from crawlspark import plans

    rows = [
        ("https://a.com/p", '<a href="https://b.com/x">e</a>'
                            '<a href="https://a.com/y">i</a>'
                            '<a href="//c.com/z">e</a>'
                            '<a href="/local">i</a>'
                            '<a href="#f">i</a>'),
        ("https://a.com/empty", "<p>no links</p>"),
    ]
    df = spark.createDataFrame(rows, ["url", "html"])
    out = gr.outlink_stats(df)
    got = {r.url: r for r in out.collect()}
    p = got["https://a.com/p"]
    assert (p.n_links, p.n_external, p.external_ratio) == (5, 2, 0.4)
    e = got["https://a.com/empty"]
    assert (e.n_links, e.n_external, e.external_ratio) == (0, 0, None)
    # stateless projection: no exchange at all
    assert plans.shuffle_count(out) == 0


def test_exactsubstr_removal_hand_computed(spark):
    # w=3. 'a b c' is shared by docs 0 and 1 (cross-doc dup):
    #   doc 0: start 0 -> tokens 0..2 cut -> 'd e' survives
    #   doc 1: start 1 -> tokens 1..3 cut -> 'x y' survives
    # doc 2 repeats a window WITHIN itself only -> untouched, excluded.
    # docs 3+4 are short whole-text dups -> fully removed, clean_text ''.
    rows = [
        (0, "a b c d e"),
        (1, "x a b c y"),
        (2, "p q r p q r p q"),
        (3, "z z"),
        (4, "z z"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textops.exactsubstr_removal(d, w=3).collect()}
    assert set(out) == {0, 1, 3, 4}, "within-doc repeats are not cut"
    assert (out[0]["clean_text"], out[0]["n_removed"]) == ("d e", 3)
    assert (out[1]["clean_text"], out[1]["n_removed"]) == ("x y", 3)
    for i in (3, 4):
        assert out[i]["clean_text"] == ""
        assert out[i]["n_removed"] == 2 == out[i]["n_tokens"]


def test_exactsubstr_removal_overlapping_spans_union(spark):
    # Both 3-windows of doc 0 ('a b c' at 0, 'b c d' at 1) are shared,
    # once with doc 1 and once with doc 2: coverage is the UNION of the
    # overlapping spans [0,3) and [1,4) -> all 4 tokens cut, not 6.
    rows = [(0, "a b c d"), (1, "a b c"), (2, "b c d")]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textops.exactsubstr_removal(d, w=3).collect()}
    assert out[0]["n_tokens"] == 4
    assert out[0]["n_removed"] == 4
    assert out[0]["clean_text"] == ""
    # the witnesses lose their single (whole) window too
    assert out[1]["clean_text"] == "" and out[2]["clean_text"] == ""


def test_exactsubstr_removal_agrees_with_audit(spark):
    # the producing half and the audit half must flag the SAME doc set
    # on the real corpus: window_dup_stats(d, 8).doc_id ==
    # exactsubstr_removal(d, 8).doc_id
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    audit = {r["doc_id"] for r in textops.window_dup_stats(d, w=8).collect()}
    cut = {r["doc_id"] for r in textops.exactsubstr_removal(d, w=8).collect()}
    assert audit == cut and len(cut) > 0


def test_cluster_best_keeper_quality_wins_and_ties(spark):
    # cluster 1: quality tie between docs 2 and 3 -> LOWEST id (2) keeps;
    # docs 1 and 3 are removed. cluster 5: tie -> 5 keeps, 6 removed.
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)], ["doc_id", "cluster_id"]
    )
    quality = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (5, 0.5), (6, 0.5)],
        ["doc_id", "quality"],
    )
    out = {
        r["doc_id"]: r
        for r in dedup.cluster_best_keeper(clusters, quality).collect()
    }
    assert set(out) == {1, 3, 6}, "keepers never appear as removed rows"
    assert out[1]["keeper_doc_id"] == 2 and out[1]["n_members"] == 3
    assert out[3]["keeper_doc_id"] == 2 and out[3]["keeper_quality"] == 0.9
    assert out[6]["keeper_doc_id"] == 5 and out[6]["n_members"] == 2


def test_mixture_plan_binding_stratum_arithmetic(spark):
    # equal target shares, unequal supply: stratum 'a' (10 docs) binds;
    # total_max = min(10/.5, 30/.5) = 20 -> quota 10 each; 'b' samples
    # at 10/30.
    docs = spark.createDataFrame(
        [("a",)] * 10 + [("b",)] * 30, ["source"]
    )
    targets = spark.createDataFrame(
        [("a", 0.5), ("b", 0.5)], ["source", "share"]
    )
    out = {
        r["source"]: r for r in textops.mixture_plan(docs, targets).collect()
    }
    assert out["a"]["total_max"] == 20.0
    assert (out["a"]["quota"], out["a"]["rate"]) == (10, 1.0)
    assert (out["b"]["quota"], out["b"]["rate"]) == (10, 0.333333)


def test_incremental_minhash_dedup_hand_semantics(spark):
    # history doc 100 == new doc 1 byte-for-byte -> every signature
    # component matches (est 1.0, vs_history). new docs 3 and 5 are
    # exact copies of each other -> keep-first removes 5 with witness 3
    # (vs_history False). doc 7 is unrelated -> kept.
    hist = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (3, "one two three four five six"),
            (5, "one two three four five six"),
            (7, "zz yy xx ww vv uu tt"),
        ],
        ["doc_id", "text"],
    )
    hist_sigs = dedup.minhash_signatures(hist, n_hashes=8, k=3)
    out = {
        r["removed_doc_id"]: r
        for r in dedup.incremental_minhash_dedup(
            new, hist_sigs, n_hashes=8, bands=4, k=3, est_threshold=0.25
        ).collect()
    }
    assert set(out) == {1, 5}
    assert out[1]["witness_id"] == 100 and out[1]["vs_history"] is True
    assert out[1]["est_jaccard"] == 1.0
    assert out[5]["witness_id"] == 3 and out[5]["vs_history"] is False
    assert out[5]["est_jaccard"] == 1.0


def test_incremental_minhash_witness_prefers_best_match(spark):
    # new doc 9 collides with BOTH history doc 2 (exact copy, est 1.0)
    # and lower-id new doc 1 (exact copy too): witness = the LOWEST id
    # among the best matches -> 1 (the in-batch doc), vs_history False.
    hist = spark.createDataFrame(
        [(2, "m n o p q r s")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(1, "m n o p q r s"), (9, "m n o p q r s")], ["doc_id", "text"]
    )
    hist_sigs = dedup.minhash_signatures(hist, n_hashes=8, k=3)
    out = {
        r["removed_doc_id"]: r
        for r in dedup.incremental_minhash_dedup(
            new, hist_sigs, n_hashes=8, bands=4, k=3, est_threshold=0.25
        ).collect()
    }
    # doc 1 is removed too (matches history doc 2) -- greedy chain-free
    assert set(out) == {1, 9}
    assert out[1]["witness_id"] == 2 and out[1]["vs_history"] is True
    assert out[9]["witness_id"] == 1 and out[9]["vs_history"] is False


def test_sitemap_entries_parse_and_page_filter(spark):
    from crawlspark import robots as rb

    pages = spark.createDataFrame(
        [
            (
                "https://a.example.com/sitemap.xml",
                "<urlset><url><loc>https://a.example.com/1</loc></url>"
                "<url><LOC>\t https://a.example.com/2 \n</LOC></url>"
                "<sitemap><loc>https://a.example.com/sitemap-news.xml"
                "</loc></sitemap></urlset>",
            ),
            # repeated entry across snapshots collapses
            (
                "https://a.example.com/sitemap.xml",
                "<url><loc>https://a.example.com/1</loc></url>",
            ),
            # NOT a sitemap url: its <loc> must be ignored
            (
                "https://a.example.com/page.html",
                "<url><loc>https://a.example.com/ignored</loc></url>",
            ),
            # sitemap index variant name matches the pattern
            (
                "https://b.example.com/sitemap-index.xml",
                "<sitemapindex><sitemap><loc>https://b.example.com/s1.xml"
                "</loc></sitemap></sitemapindex>",
            ),
        ],
        ["url", "text"],
    )
    rows = {
        (r["host"], r["loc"]) for r in rb.sitemap_entries(pages).collect()
    }
    assert rows == {
        ("a.example.com", "https://a.example.com/1"),
        ("a.example.com", "https://a.example.com/2"),
        ("a.example.com", "https://a.example.com/sitemap-news.xml"),
        ("b.example.com", "https://b.example.com/s1.xml"),
    }


def test_host_skew_report_flags_mega_host(spark):
    from crawlspark import scheduler as sched

    rows = [(f"https://mega.example.com/p/{i}",) for i in range(8)]
    rows += [(f"https://tiny{j}.example.com/",) for j in range(4)]
    urls = spark.createDataFrame(rows, ["url"])
    out = sched.host_skew_report(urls, n_buckets=1, salt_threshold=5)
    r = out.collect()[0]
    # single bucket: 12 urls over 5 hosts; mega dominates with 8
    assert r["n_urls"] == 12 and r["n_hosts"] == 5
    assert r["top_host"] == "mega.example.com" and r["top_host_n"] == 8
    assert abs(r["top_share"] - 8 / 12) < 1e-6
    assert r["needs_salt"] is True
    # raise the threshold above the mega host -> flag clears
    r2 = sched.host_skew_report(urls, n_buckets=1, salt_threshold=9).collect()[0]
    assert r2["needs_salt"] is False


def test_host_skew_report_tie_breaks_lexicographic(spark):
    from crawlspark import scheduler as sched

    urls = spark.createDataFrame(
        [("https://bbb.com/1",), ("https://aaa.com/1",)], ["url"]
    )
    r = sched.host_skew_report(urls, n_buckets=1, salt_threshold=99).collect()[0]
    assert r["top_host"] == "aaa.com" and r["top_host_n"] == 1


def test_shard_plan_matches_naive_running_sum(spark):
    # 10 docs of varying sizes, tiny buckets (width 3) so the two-phase
    # scan crosses bucket boundaries; target 25 bytes per shard.
    rows = [(i, "x" * (5 + 3 * (i % 4))) for i in range(10)]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in textops.shard_plan(
            d, target_bytes=25, bucket_width=3
        ).collect()
    }
    running = 0
    for i in range(10):
        n = 5 + 3 * (i % 4)
        assert out[i]["n_bytes"] == n
        assert out[i]["start_byte"] == running, f"doc {i}"
        assert out[i]["shard"] == running // 25
        running += n


def test_shard_plan_never_splits_a_doc(spark):
    # a doc larger than the target still lands in exactly one shard
    d = spark.createDataFrame(
        [(0, "a" * 10), (1, "b" * 100), (2, "c" * 10)], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r["shard"] for r in
           textops.shard_plan(d, target_bytes=30, bucket_width=2).collect()}
    assert out == {0: 0, 1: 0, 2: 3}  # doc1 overruns shard 0; doc2 at 110//30


def test_lsh_estimate_audit_exact_dup_and_band_collision(spark, docs):
    out = dedup.lsh_estimate_audit(docs, n_hashes=8, bands=4, k=3).collect()
    by_pair = {(r["doc_a"], r["doc_b"]): r for r in out}
    # exact dups 0/1: every component matches, true jaccard 1.0, err 0
    assert (0, 1) in by_pair
    r = by_pair[(0, 1)]
    assert r["est_jaccard"] == 1.0 and r["true_jaccard"] == 1.0
    assert r["abs_err"] == 0.0
    # every emitted pair carries a bounded error in [0, 1]
    for r in out:
        assert 0.0 <= r["abs_err"] <= 1.0
        assert abs(
            r["abs_err"] - abs(r["est_jaccard"] - r["true_jaccard"])
        ) < 1e-9


def test_bpe_pair_counts_weighted_by_word_frequency(spark):
    # 'ab' appears in "abc" (x3 docs) and "ab" (x1): weight 4;
    # 'bc' only in "abc": weight 3; single-char words ignored.
    d = spark.createDataFrame(
        [(0, "abc ab a"), (1, "abc"), (2, "abc b")], ["doc_id", "text"]
    )
    out = {r["pair"]: (r["n"], r["rank"]) for r in
           textops.bpe_pair_counts(d, top_k=10).collect()}
    assert out["ab"] == (4, 1)
    assert out["bc"] == (3, 2)
    assert "a" not in out and len(out) == 2


def test_latency_percentiles_rank_semantics(spark):
    from crawlspark import scheduler as sched

    # host a: 1..10 -> p50 = value at ceil(5)=rank 5 -> 5.0;
    # p95 at ceil(9.5)=rank 10 -> 10.0. host b: single obs -> both 7.0.
    rows = [("a", float(i)) for i in range(1, 11)] + [("b", 7.0)]
    log = spark.createDataFrame(rows, ["host", "latency_ms"])
    out = {r["host"]: r for r in sched.latency_percentiles(log).collect()}
    assert out["a"]["n_fetches"] == 10
    assert (out["a"]["p50"], out["a"]["p95"]) == (5.0, 10.0)
    assert (out["b"]["p50"], out["b"]["p95"]) == (7.0, 7.0)


def test_bigram_lm_perplexity_hand_math(spark):
    # corpus: "a b" x3 and "a c" x1 -> c(a b)=3, c(a c)=1, c1(a)=4,
    # V={a,b,c}=3, k=0.5: p(b|a)=3.5/5.5, p(c|a)=1.5/5.5. Single-bigram
    # docs -> ppl = 1/p. Repeated doc "a b a b" has bigrams (a b),(b a),
    # (a b) exercising the per-doc mean.
    rows = [
        (0, "en", "a b"),
        (1, "en", "a b"),
        (2, "en", "a b"),
        (3, "en", "a c"),
        (4, "en", "x"),  # <2 tokens: dropped
    ]
    d = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = {r["doc_id"]: r for r in
           textops.bigram_lm_perplexity(d, add_k=0.5).collect()}
    assert 4 not in out and len(out) == 4
    assert out[0]["ppl"] == round(5.5 / 3.5, 4)
    assert out[3]["ppl"] == round(5.5 / 1.5, 4)
    # identical docs share the bucket boundary deterministically by
    # doc_id; the rarer doc is the tail
    assert out[3]["bucket"] == 3
    assert out[0]["bucket"] == 1


def test_bigram_lm_perplexity_buckets_per_lang(spark):
    # each lang gets its own head/middle/tail split regardless of the
    # other lang's ppl range
    rows = []
    for i in range(6):
        rows.append((i, "en", "w w" if i < 3 else f"u{i} v{i}"))
    for i in range(6, 12):
        rows.append((i, "fr", "z z" if i < 9 else f"q{i} r{i}"))
    d = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = textops.bigram_lm_perplexity(d, n_buckets=3).collect()
    for lang in ("en", "fr"):
        bs = sorted(r["bucket"] for r in out if r["lang"] == lang)
        assert bs == [1, 1, 2, 2, 3, 3]


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
def test_shard_plan_property_random_sizes(spark, seed):
    # randomized cross-check vs the naive driver-side running sum, with
    # sparse non-contiguous doc_ids so value-range buckets are uneven
    import random

    rng = random.Random(seed)
    ids = sorted(rng.sample(range(0, 500), 40))
    sizes = {i: rng.randint(0, 80) for i in ids}
    target = rng.randint(16, 120)
    width = rng.choice([1, 3, 7, 50, 1000])
    d = spark.createDataFrame(
        [(i, "x" * sizes[i]) for i in ids], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["start_byte"], r["shard"])
        for r in textops.shard_plan(
            d, target_bytes=target, bucket_width=width
        ).collect()
    }
    running = 0
    for i in ids:
        assert got[i] == (running, running // target), (
            f"doc {i} seed {seed} width {width} target {target}"
        )
        running += sizes[i]


# -- DSIR importance weights (t59) ----------------------------------------------


def test_dsir_weights_rank_target_like_docs_higher(spark):
    # raw docs repeating the target's bigrams must out-score raw docs
    # sharing nothing with the target
    tgt = spark.createDataFrame(
        [(100, "alpha beta gamma alpha beta")], ["doc_id", "text"]
    )
    raw = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),        # pure target bigrams
            (2, "zzz yyy xxx www"),         # disjoint
            (3, "alpha beta zzz yyy"),      # half and half
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in textops.dsir_importance_weights(
            raw, tgt, n_buckets=64
        ).collect()
    }
    assert out[1]["n_feats"] == 2 and out[2]["n_feats"] == 3
    per_feat = {
        i: out[i]["log_w_micro"] / out[i]["n_feats"] for i in (1, 2, 3)
    }
    assert per_feat[1] > per_feat[3] > per_feat[2]
    # disjoint-from-target doc must have negative log weight (raw mass,
    # no target mass beyond smoothing)
    assert out[2]["log_w_micro"] < 0


def test_dsir_weights_hand_math_single_bucket_system(spark):
    # one raw doc, one target doc, identical single bigram -> both
    # models put all mass on the same bucket; verify the micro-nats
    # arithmetic exactly
    tgt = spark.createDataFrame([(0, "a b")], ["doc_id", "text"])
    raw = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    b, k = 16, 0.5
    out = textops.dsir_importance_weights(
        raw, tgt, n_buckets=b, add_k=k
    ).collect()
    assert len(out) == 1
    expect = round(
        (math.log((1 + k) / (1 + k * b)) - math.log((1 + k) / (1 + k * b)))
        * 1e6
    )
    assert out[0]["log_w_micro"] == expect == 0
    assert out[0]["n_feats"] == 1


def test_dsir_weights_short_docs_drop(spark):
    tgt = spark.createDataFrame([(0, "a b")], ["doc_id", "text"])
    raw = spark.createDataFrame(
        [(1, "single"), (2, ""), (3, "a b")], ["doc_id", "text"]
    )
    out = textops.dsir_importance_weights(raw, tgt, n_buckets=8).collect()
    assert [r["doc_id"] for r in out] == [3]


# -- crawl budget apportionment (t60) --------------------------------------------


def test_crawl_budget_largest_remainder_hand_math(spark):
    from crawlspark import scheduler

    # total=10 over scores 5:3:1 -> quotas 5.556/3.333/1.111,
    # bases 5/3/1 (sum 9), one leftover seat -> largest remainder (a)
    hs = spark.createDataFrame(
        [("a.com", 5), ("b.com", 3), ("c.com", 1)], ["host", "score"]
    )
    out = {
        r["host"]: (r["base"], r["extra"], r["budget"])
        for r in scheduler.crawl_budget_plan(hs, total_budget=10).collect()
    }
    assert out == {
        "a.com": (5, 1, 6),
        "b.com": (3, 0, 3),
        "c.com": (1, 0, 1),
    }


def test_crawl_budget_sums_exactly_and_ties_break_host_asc(spark):
    from crawlspark import scheduler

    # equal scores, total not divisible -> equal remainders; the +1
    # seats go to the lexicographically first hosts
    hs = spark.createDataFrame(
        [(f"h{i}.com", 7) for i in range(4)], ["host", "score"]
    )
    rows = scheduler.crawl_budget_plan(hs, total_budget=10).collect()
    assert sum(r["budget"] for r in rows) == 10
    got = {r["host"]: r["budget"] for r in rows}
    assert got == {"h0.com": 3, "h1.com": 3, "h2.com": 2, "h3.com": 2}


def test_crawl_budget_drops_nonpositive_scores(spark):
    from crawlspark import scheduler

    hs = spark.createDataFrame(
        [("a.com", 0), ("b.com", -2), ("c.com", 4)], ["host", "score"]
    )
    rows = scheduler.crawl_budget_plan(hs, total_budget=5).collect()
    assert [(r["host"], r["budget"]) for r in rows] == [("c.com", 5)]


# -- DSIR Gumbel-top-k resample (t61) ---------------------------------------------


def _gumbel_key(doc_id: int, w_micro: int, temperature: float = 1.0) -> int:
    import hashlib

    h = hashlib.md5(f"gumbel:{doc_id}".encode()).hexdigest()
    u = (int(h[:4], 16) + 1.0) / 65537.0
    g = -math.log(-math.log(u))
    return w_micro + int(round(temperature * g * 1e6))


def test_dsir_gumbel_topk_matches_pure_python(spark):
    rows = [(i, (i * 37 - 200) * 1000) for i in range(12)]
    w = spark.createDataFrame(rows, ["doc_id", "log_w_micro"])
    got = textops.dsir_gumbel_topk(w, k=5).collect()
    keys = sorted(
        ((_gumbel_key(i, wm), -i) for i, wm in rows), reverse=True
    )[:5]
    want_ids = [-negi for _, negi in keys]
    assert [r["doc_id"] for r in got] == want_ids
    for r in got:
        assert r["key_micro"] == _gumbel_key(r["doc_id"], r["log_w_micro"])


def test_dsir_gumbel_topk_k_exceeds_n_returns_all(spark):
    w = spark.createDataFrame(
        [(1, 100), (2, -50)], ["doc_id", "log_w_micro"]
    )
    assert textops.dsir_gumbel_topk(w, k=10).count() == 2


def test_dsir_gumbel_topk_is_deterministic_across_runs(spark):
    w = spark.createDataFrame(
        [(i, i * 500) for i in range(30)], ["doc_id", "log_w_micro"]
    )
    a = [r["doc_id"] for r in textops.dsir_gumbel_topk(w, k=7).collect()]
    b = [r["doc_id"] for r in textops.dsir_gumbel_topk(w, k=7).collect()]
    assert a == b and len(a) == 7


# -- leakage-safe split (t62) -----------------------------------------------------


def test_leakage_safe_split_cluster_coherent_and_total(spark):
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(8)], ["doc_id", "text"]
    )
    # 0-1-2 one component (chain), 5-6 another, 3/4/7 singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], ["doc_a", "doc_b"]
    )
    out = dedup.leakage_safe_split(docs, pairs, test_frac=0.5).collect()
    assert len(out) == 8  # every doc assigned exactly once
    by_id = {r["doc_id"]: r for r in out}
    assert {by_id[i]["cluster_id"] for i in (0, 1, 2)} == {0}
    assert {by_id[i]["cluster_id"] for i in (5, 6)} == {5}
    for i in (3, 4, 7):
        assert by_id[i]["cluster_id"] == i
    # coherence: same cluster -> same split
    assert len({by_id[i]["split"] for i in (0, 1, 2)}) == 1
    assert len({by_id[i]["split"] for i in (5, 6)}) == 1
    assert {r["split"] for r in out} <= {"train", "test"}


def test_leakage_safe_split_coin_matches_md5(spark):
    import hashlib

    docs = spark.createDataFrame(
        [(i, "x") for i in range(40)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    out = dedup.leakage_safe_split(docs, pairs, test_frac=0.25).collect()
    for r in out:
        h = hashlib.md5(f"split:{r['cluster_id']}".encode()).hexdigest()
        u = int(h[:4], 16) / 65536.0
        assert r["split"] == ("test" if u < 0.25 else "train")


# -- quality threshold sweep (t63) --------------------------------------------------


def test_threshold_sweep_hand_arithmetic(spark):
    # punctuation-free docs: q = 0.6*min(n_tokens/100, 1) + 0.4
    doc_a = " ".join(["w"] * 10)    # q = 0.46, 10 tokens
    doc_b = " ".join(["w"] * 100)   # q = 1.00, 100 tokens
    d = spark.createDataFrame([(1, doc_a), (2, doc_b)], ["doc_id", "text"])
    out = {
        r["threshold"]: r
        for r in textops.quality_threshold_sweep(
            d, thresholds=[0.0, 0.5, 1.0, 1.01]
        ).collect()
    }
    assert len(out) == 4
    assert (out[0.0]["n_docs"], out[0.0]["n_tokens"]) == (2, 110)
    assert out[0.0]["doc_share"] == 1.0 and out[0.0]["token_share"] == 1.0
    assert (out[0.5]["n_docs"], out[0.5]["n_tokens"]) == (1, 100)
    assert out[0.5]["doc_share"] == 0.5
    assert out[0.5]["token_share"] == round(100 / 110, 6)
    assert (out[1.0]["n_docs"]) == 1
    # a threshold that keeps nothing still gets its row
    assert (out[1.01]["n_docs"], out[1.01]["n_tokens"]) == (0, 0)
    assert out[1.01]["doc_share"] == 0.0


# -- vocabulary coverage curve (t64) ------------------------------------------------


def test_vocab_coverage_hand_arithmetic_and_ties(spark):
    d = spark.createDataFrame(
        [(1, "a a a b b c")], ["doc_id", "text"]
    )
    out = {
        r["k"]: r for r in textops.vocab_coverage(d, ks=[1, 2, 10]).collect()
    }
    assert (out[1]["n_terms"], out[1]["covered_tokens"], out[1]["coverage"]) == (1, 3, 0.5)
    assert (out[2]["n_terms"], out[2]["covered_tokens"]) == (2, 5)
    assert out[2]["coverage"] == round(5 / 6, 6)
    # k beyond |vocab| saturates at the full vocabulary
    assert (out[10]["n_terms"], out[10]["covered_tokens"], out[10]["coverage"]) == (3, 6, 1.0)

    # equal counts tie-break term-ascending
    d2 = spark.createDataFrame([(1, "y y x x")], ["doc_id", "text"])
    one = textops.vocab_coverage(d2, ks=[1]).collect()[0]
    assert (one["n_terms"], one["covered_tokens"], one["coverage"]) == (1, 2, 0.5)


# -- JL random projection (t65) -----------------------------------------------------


def test_jl_project_one_hot_extracts_sign_column(spark):
    # proj(e_i) = signs[:, i] / sqrt(out_dim), exactly
    out_dim, in_dim = 4, 8
    signs = similarity.jl_signs(out_dim, in_dim)
    for i in (0, 3, 7):
        vec = [0.0] * in_dim
        vec[i] = 1.0
        d = spark.createDataFrame([(1, vec)], ["vec_id", "embedding"])
        got = similarity.jl_project(
            d, out_dim=out_dim, in_dim=in_dim
        ).collect()[0]["proj"]
        want = [round(signs[j][i] / math.sqrt(out_dim), 6) for j in range(out_dim)]
        assert got == want


def test_jl_project_preserves_relative_distance_order(spark):
    # a vector is closer to a small perturbation of itself than to an
    # independent vector, before AND after projection
    import random

    rng = random.Random(7)
    base = [rng.gauss(0, 1) for _ in range(64)]
    near = [x + rng.gauss(0, 0.01) for x in base]
    far = [rng.gauss(0, 1) for _ in range(64)]
    d = spark.createDataFrame(
        [(0, base), (1, near), (2, far)], ["vec_id", "embedding"]
    )
    rows = {
        r["vec_id"]: r["proj"]
        for r in similarity.jl_project(d, out_dim=16, in_dim=64).collect()
    }

    def dist(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    assert dist(rows[0], rows[1]) < dist(rows[0], rows[2])


# -- source mirror matrix (t66) -------------------------------------------------------


def test_source_mirror_matrix_hand_counts(spark):
    d = spark.createDataFrame(
        [
            (1, "A", "same text one"),
            (2, "B", "same text one"),      # A-B share fp(one)
            (3, "C", "same text one"),      # A-C, B-C share fp(one)
            (4, "A", "same text two"),
            (5, "B", "same text two"),      # A-B share fp(two) as well
            (6, "A", "same text two"),      # within-source copy: no double count
            (7, "C", "unique text"),
        ],
        ["doc_id", "source", "text"],
    )
    out = {
        (r["source_a"], r["source_b"]): r["n_shared"]
        for r in textops.source_mirror_matrix(d).collect()
    }
    assert out == {("A", "B"): 2, ("A", "C"): 1, ("B", "C"): 1}


def test_source_mirror_matrix_whitespace_normalized(spark):
    # the fingerprint is whitespace-normalized + lowercased, so mirrors
    # that differ only in spacing/case still pair
    d = spark.createDataFrame(
        [(1, "A", "Hello   World"), (2, "B", "hello world")],
        ["doc_id", "source", "text"],
    )
    out = textops.source_mirror_matrix(d).collect()
    assert len(out) == 1 and out[0]["n_shared"] == 1


# -- RefinedWeb line-wise correction (t67) --------------------------------------------


def test_line_quality_filter_strips_junk_reconstructs(spark):
    d = spark.createDataFrame(
        [
            (1, "A proper sentence with many words here.\n- bullet junk\n"
                "ok\n1. numbered junk line\nAnother good line with words"),
            (2, "- only junk\nx y"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in textops.line_quality_filter(d).collect()}
    assert out[1]["text"] == (
        "A proper sentence with many words here.\n"
        "Another good line with words"
    )
    assert (out[1]["n_lines_in"], out[1]["n_lines_kept"]) == (5, 2)
    # a fully-junk document reconstructs to empty (filter downstream)
    assert out[2]["text"] == "" and out[2]["n_lines_kept"] == 0


def test_line_quality_filter_terminal_punct_mode(spark):
    d = spark.createDataFrame(
        [(1, "good line ending with period.\nno terminal punct here")],
        ["doc_id", "text"],
    )
    out = textops.line_quality_filter(
        d, require_terminal_punct=True
    ).collect()[0]
    assert out["text"] == "good line ending with period."
    assert out["n_lines_kept"] == 1


# -- per-doc TF-IDF keywords (t68) ----------------------------------------------------


def test_doc_keywords_hand_math(spark):
    # 3 docs: "rare" appears only in doc 1 (idf = ln 3), "common" in all
    # (idf = 0 -> never a top keyword over a positive-idf term)
    d = spark.createDataFrame(
        [
            (1, "rare rare common unique1"),
            (2, "common unique2 unique2 unique2"),
            (3, "common other3"),
        ],
        ["doc_id", "text"],
    )
    out = textops.doc_keywords(d, top_k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    ln3 = round(math.log(3.0) * 1e6)
    d1 = {r["term"]: r for r in by_doc[1]}
    assert d1["rare"]["rank"] == 1
    assert d1["rare"]["score_micro"] == 2 * ln3  # tf=2, df=1
    assert d1["unique1"]["rank"] == 2
    assert d1["unique1"]["score_micro"] == 1 * ln3
    # common has idf_micro = 0 -> score 0, loses to any positive score
    assert "common" not in d1
    d2 = {r["term"]: r for r in by_doc[2]}
    assert d2["unique2"]["rank"] == 1 and d2["unique2"]["tf"] == 3
    # doc 3 has only one positive-idf term; common (score 0) fills rank 2
    d3 = {r["rank"]: r for r in by_doc[3]}
    assert d3[1]["term"] == "other3" and d3[2]["term"] == "common"
    assert d3[2]["score_micro"] == 0


# -- NB trigram language classifier (t69) ---------------------------------------------


def test_nb_lang_id_separable_corpus_classifies_perfectly(spark):
    # two cleanly separable "languages" (disjoint charsets): the
    # self-trained classifier must recover every label
    rows = [(i, "aa", "aaa bbb aab abb baa") for i in range(5)]
    rows += [(i + 10, "zz", "zzz yyy zzy zyy yzz") for i in range(5)]
    d = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = textops.nb_lang_id(d).collect()
    assert len(out) == 10
    assert all(r["predicted"] == r["lang"] for r in out)


def test_nb_lang_id_hand_math_two_docs(spark):
    # 2 docs, 3-char texts -> one trigram each; verify the full scoring
    # arithmetic (prior + seen/unseen terms) against pure python
    d = spark.createDataFrame(
        [(1, "aa", "abc"), (2, "zz", "xyz")], ["doc_id", "lang", "text"]
    )
    out = {r["doc_id"]: r for r in textops.nb_lang_id(d).collect()}
    k, v = 0.5, 2          # vocab = {abc, xyz}
    prior = round(math.log(1 / 2) * 1e6)
    seen = round(math.log((1 + k) / (1 + k * v)) * 1e6)     # c=1, n_l=1
    unseen = round(math.log(k / (1 + k * v)) * 1e6)
    # own lang: prior + seen; other lang: prior + unseen -> own wins
    assert out[1]["predicted"] == "aa"
    assert out[1]["score_micro"] == prior + seen
    assert out[2]["predicted"] == "zz"
    assert out[2]["score_micro"] == prior + seen
    assert seen > unseen


def test_nb_lang_id_short_docs_drop(spark):
    d = spark.createDataFrame(
        [(1, "aa", "ab"), (2, "aa", "abcd")], ["doc_id", "lang", "text"]
    )
    out = textops.nb_lang_id(d).collect()
    assert [r["doc_id"] for r in out] == [2]


def test_nb_lang_id_heldout_train_relation(spark):
    # model trained only on `train`: a held-out doc of a separable
    # charset still classifies to its language; and a language absent
    # from train can never be predicted
    train = spark.createDataFrame(
        [(i, "aa", "aaa bba aab") for i in range(4)]
        + [(i + 10, "zz", "zzz yzz zzy") for i in range(4)],
        ["doc_id", "lang", "text"],
    )
    test = spark.createDataFrame(
        [(100, "aa", "aab aaa"), (101, "qq", "qqq qqw")],
        ["doc_id", "lang", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in textops.nb_lang_id(test, train=train).collect()
    }
    assert out[100]["predicted"] == "aa"
    # 'qq' never seen in train -> prediction must be one of the trained langs
    assert out[101]["predicted"] in {"aa", "zz"}


def test_canonical_links_resolution_membership_and_attr_order(spark):
    from crawlspark import graph

    rows = [
        # absolute canonical, target NOT a corpus page
        ("https://a.com/dir/p1",
         '<link rel="canonical" href="https://a.com/p1">'),
        # root-relative canonical -> corpus page p2 (alias collapse)
        ("https://a.com/p2?utm=x", '<link rel="canonical" href="/p2">'),
        # href-before-rel attribute order, self-canonical
        ("https://a.com/p2",
         '<link href="https://a.com/p2" rel="canonical">'),
        # directory-relative resolves against the page's directory
        ("https://b.com/d/p3", '<link rel="canonical" href="c.html">'),
        # protocol-relative adopts the page scheme
        ("https://b.com/p4", '<link rel="canonical" href="//a.com/p2">'),
        # no canonical tag -> no output row
        ("https://b.com/p5", "<p>nothing</p>"),
    ]
    d = spark.createDataFrame(rows, ["url", "html"])
    got = {
        r["url"]: (r["canonical_url"], r["is_self"], r["target_in_corpus"])
        for r in graph.canonical_links(d).collect()
    }
    assert got == {
        "https://a.com/dir/p1": ("https://a.com/p1", False, False),
        "https://a.com/p2?utm=x": ("https://a.com/p2", False, True),
        "https://a.com/p2": ("https://a.com/p2", True, True),
        "https://b.com/d/p3": ("https://b.com/d/c.html", False, False),
        "https://b.com/p4": ("https://a.com/p2", False, True),
    }


def test_soft404_requires_marker_and_host_relative_shortness(spark):
    w9 = " ".join(["w"] * 9)
    rows = [
        ("https://a.com/1", w9),
        ("https://a.com/2", w9),
        ("https://a.com/3", w9),
        # marker + 3 tokens vs host mean 7.5 -> short -> soft404
        ("https://a.com/gone", "page not found"),
        # marker but LONG for its host (15 tokens vs mean 12) -> kept
        ("https://b.com/long404", "page not found " + " ".join(["x"] * 12)),
        ("https://b.com/ok", w9),
    ]
    d = spark.createDataFrame(rows, ["url", "text"])
    got = {
        r["url"]: (r["n_tokens"], r["host_mean_tokens"], r["marker_hit"],
                   r["is_soft404"])
        for r in textops.soft404_stats(d).collect()
    }
    assert got["https://a.com/gone"] == (3, 7.5, True, True)
    assert got["https://b.com/long404"] == (15, 12.0, True, False)
    assert got["https://a.com/1"] == (9, 7.5, False, False)


def test_cache_control_hints_precedence_clamps_and_anchor(spark):
    from crawlspark import scheduler

    rows = [
        ("u1", 1000, "Content-Type: text/html\r\nCache-Control: public, max-age=3600"),
        ("u2", 1000, "Cache-Control: no-store, max-age=500"),
        ("u3", 1000, "Cache-Control: NO-CACHE"),
        ("u4", 1000, "Cache-Control: max-age=99999999"),
        ("u5", 1000, "Cache-Control: max-age=0"),
        ("u6", 1000, "Content-Type: text/plain"),
        # not a Cache-Control header line -> must not match
        ("u7", 1000, "X-Cache-Control: max-age=5"),
    ]
    d = spark.createDataFrame(rows, ["url", "fetch_ts", "headers"])
    got = {
        r["url"]: (r["directive"], r["max_age"], r["next_fetch_ts"])
        for r in scheduler.cache_control_hints(d).collect()
    }
    assert got == {
        "u1": ("max-age", 3600, 4600),
        "u2": ("no-store", 60, 1060),
        "u3": ("no-cache", 60, 1060),
        "u4": ("max-age", 604800, 605800),
        "u5": ("max-age", 60, 1060),
        "u6": ("none", 86400, 87400),
        "u7": ("none", 86400, 87400),
    }


def test_sitemap_lastmod_parse_filter_and_dedup(spark):
    import datetime

    from crawlspark import robots

    xml = (
        "<urlset>"
        "<url><loc> https://a.com/p1 </loc>"
        "<lastmod>2024-05-06T12:00:00+00:00</lastmod></url>"
        "<url><loc>https://a.com/p2</loc></url>"  # no lastmod -> dropped
        "<url><loc>https://a.com/p1</loc>"
        "<lastmod>2024-05-06</lastmod></url>"  # dup of p1 -> collapses
        "</urlset>"
    )
    rows = [
        ("https://a.com/sitemap.xml", xml),
        ("https://a.com/page.html", xml),  # not a sitemap url -> ignored
    ]
    d = spark.createDataFrame(rows, ["url", "text"])
    got = [
        (r["host"], r["loc"], r["lastmod_date"])
        for r in robots.sitemap_lastmod(d).collect()
    ]
    assert got == [
        ("a.com", "https://a.com/p1", datetime.date(2024, 5, 6))
    ]


def test_seed_distance_bfs_hops_cap_and_cycle(spark):
    from crawlspark import graph

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("z", "z2")],
        ["src", "dst"],
    )
    seeds = spark.createDataFrame([("a",), ("x",)], ["node"])
    got = {
        r["node"]: r["dist"]
        for r in graph.seed_distance(edges, seeds, max_hops=6).collect()
    }
    # z/z2 unreachable -> absent; cycle d->a does not lower a's 0
    assert got == {"a": 0, "x": 0, "b": 1, "c": 2, "d": 3}
    capped = {
        r["node"]: r["dist"]
        for r in graph.seed_distance(edges, seeds, max_hops=2).collect()
    }
    assert capped == {"a": 0, "x": 0, "b": 1, "c": 2}


def test_collapse_repeated_lines_adjacent_only(spark):
    rows = [
        (1, "a\na\nb\na"),   # adjacent dup collapses; later 'a' survives
        (2, "x\nx\nx"),
        (3, "solo"),
        (4, "p\nq\np\nq"),   # no adjacent dups -> unchanged
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["text"], r["n_lines"], r["n_kept"])
        for r in textops.collapse_repeated_lines(d).collect()
    }
    assert got == {
        1: ("a\nb\na", 4, 3),
        2: ("x", 3, 1),
        3: ("solo", 1, 1),
        4: ("p\nq\np\nq", 4, 4),
    }


def test_encoding_audit_markers_and_verdict(spark):
    rows = [
        (1, "clean text"),
        (2, "caf� broken"),          # replacement char
        (3, "mÉlaise Ã© Ã¨ Ã¼"),  # 3 mojibake pairs
        (4, "one Ã© only"),     # single marker -> not suspect
        (5, "bell\x07char"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_mojibake"], r["n_replacement"], r["n_ctrl"],
                      r["suspect"])
        for r in textops.encoding_audit(d).collect()
    }
    assert got[1] == (0, 0, 0, False)
    assert got[2] == (0, 1, 0, True)
    assert got[3][0] >= 3 and got[3][3] is True
    assert got[4] == (1, 0, 0, False)
    assert got[5] == (0, 0, 1, True)


def test_hreflang_alternates_orders_filter_and_resolution(spark):
    from crawlspark import graph

    rows = [
        (
            "https://a.com/en/p",
            '<link rel="alternate" hreflang="DE" href="https://a.com/de/p">'
            '<link hreflang="fr" href="/fr/p" rel="alternate">'
            '<link rel="canonical" href="https://a.com/en/p">'   # no hreflang
            '<link rel="alternate" hreflang="de" '
            'href="https://a.com/de/p">',  # dup after lowercasing
        ),
        ("https://b.com/q", "<p>none</p>"),
    ]
    d = spark.createDataFrame(rows, ["url", "html"])
    got = sorted(
        (r["url"], r["hreflang"], r["alt_url"])
        for r in graph.hreflang_alternates(d).collect()
    )
    assert got == [
        ("https://a.com/en/p", "de", "https://a.com/de/p"),
        ("https://a.com/en/p", "fr", "https://a.com/fr/p"),
    ]


def test_frontier_age_report_histogram_and_pending(spark):
    from crawlspark import scheduler

    rows = [
        ("u1", 0, "insert"), ("u1", 2, "done"),     # age 2
        ("u2", 1, "insert"), ("u2", 1, "done"),     # age 0
        ("u3", 0, "insert"), ("u3", 2, "done"), ("u3", 5, "done"),  # first done wins: 2
        ("u4", 3, "insert"),                          # pending -> age -1
        ("u5", 4, "done"),                            # no insert -> excluded
    ]
    d = spark.createDataFrame(rows, ["url", "round", "op"])
    got = {
        r["age"]: (r["n_urls"], r["share"])
        for r in scheduler.frontier_age_report(d).collect()
    }
    assert got == {2: (2, 0.5), 0: (1, 0.25), -1: (1, 0.25)}


def test_web_clean_composition_order_and_winners(spark):
    from crawlspark import pipeline as pl

    w9 = " ".join(["w"] * 9)
    rows = [
        ("https://a.com/1", w9),
        ("https://a.com/2", w9 + " extra"),
        ("https://a.com/3", "error 404"),             # soft404 -> dropped
        ("https://a.com/4", "bad caf� bytes"),        # encoding -> dropped
        ("https://a.com/5", "t\nt\nu"),               # collapses to t\nu
        ("https://a.com/6", "t\nu"),                  # dup of 5 post-collapse
        ("https://b.com/7", w9),                      # same text other host kept? no:
    ]
    # note: /1, /7 share text -> one winner (min url = a.com/1)
    d = spark.createDataFrame(rows, ["url", "text"])
    got = {
        r["url"]: (r["text"], r["n_collapsed_lines"])
        for r in pl.web_clean(d).collect()
    }
    assert got == {
        "https://a.com/1": (w9, 0),
        "https://a.com/2": (w9 + " extra", 0),
        "https://a.com/5": ("t\nu", 1),  # beats /6 (collapse before dedup)
    }


def test_web_clean_duplicate_urls_no_fanout(spark):
    """ADVICE r4: refetches of the same url (duplicate input rows) must
    neither fan out through the url equi-joins nor emit multiple copies
    of a winning url; the kept text is the deterministic min per url."""
    from crawlspark import pipeline as pl

    w9 = " ".join(["w"] * 9)
    rows = [
        ("https://a.com/1", w9 + " v2"),   # refetch, lexicographically later
        ("https://a.com/1", w9 + " v1"),   # min(text) winner
        ("https://a.com/1", w9 + " v2"),   # a third copy
        ("https://a.com/2", "t\nt\nu"),
    ]
    d = spark.createDataFrame(rows, ["url", "text"])
    out = pl.web_clean(d).collect()
    got = {r["url"]: (r["text"], r["n_collapsed_lines"]) for r in out}
    assert len(out) == len(got) == 2  # exactly one row per surviving url
    assert got["https://a.com/1"] == (w9 + " v1", 0)
    assert got["https://a.com/2"] == ("t\nu", 1)


def test_pmi_collocations_hand_math(spark):
    rows = [(0, "new york a"), (1, "new york b"), (2, "a b")]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    got = textops.pmi_collocations(d, min_count=2, top_k=5).collect()
    # only (new, york) reaches c12 >= 2; Nu=8 Nb=5 c1=c2=2
    # pmi = ln((2/5) / ((2/8)*(2/8))) = ln(6.4)
    assert len(got) == 1
    r = got[0]
    assert (r["w1"], r["w2"], r["c12"], r["rank"]) == ("new", "york", 2, 1)
    assert r["pmi_micro"] == round(math.log(6.4) * 1e6)


def test_pmi_topk_tiebreak_lexicographic(spark):
    # two pairs with identical counts everywhere -> identical pmi;
    # rank must break on (w1, w2) ascending
    rows = [(0, "p q"), (1, "p q"), (2, "x y"), (3, "x y")]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["rank"]: (r["w1"], r["w2"])
        for r in textops.pmi_collocations(d, min_count=2, top_k=5).collect()
    }
    assert got == {1: ("p", "q"), 2: ("x", "y")}


def test_host_components_families_and_sizes(spark):
    from crawlspark import graph

    edges = spark.createDataFrame(
        [("a.com", "b.com"), ("b.com", "c.com"), ("d.com", "e.com"),
         ("a.com", "a.com")],  # self-loop dropped
        ["src", "dst"],
    )
    got = {
        r["host"]: (r["component_id"], r["n_hosts"])
        for r in graph.host_components(edges).collect()
    }
    assert got == {
        "a.com": ("a.com", 3),
        "b.com": ("a.com", 3),
        "c.com": ("a.com", 3),
        "d.com": ("d.com", 2),
        "e.com": ("d.com", 2),
    }


def test_hits_one_iteration_hand_math(spark):
    from crawlspark import graph

    edges = spark.createDataFrame(
        [("h1", "a1"), ("h1", "a2"), ("h2", "a1")], ["src", "dst"]
    )
    got = {
        r["node"]: (r["hub"], r["auth"])
        for r in graph.hits(edges, iters=1).collect()
    }
    # n=4, init hub=250000000 each
    # auth_raw: a1=5e8, a2=2.5e8; tot=7.5e8
    #   a1 -> round(5e8/7.5e8*1e9)=666666667, a2 -> 333333333
    # hub_raw: h1=a1+a2=1000000000, h2=a1=666666667; tot=1666666667
    #   h1 -> round(1e9/1666666667*1e9)=600000000, h2 -> 400000000
    assert got == {
        "h1": (0.6, 0.0),
        "h2": (0.4, 0.0),
        "a1": (0.0, 0.666667),
        "a2": (0.0, 0.333333),
    }


def test_hits_authority_ordering_multi_iter(spark):
    from crawlspark import graph

    # a1 cited by 3 hubs, a2 by 1 -> a1 must dominate after 3 iters;
    # scores stay normalized (each column sums to ~1e9 nano = ~1.0)
    edges = spark.createDataFrame(
        [("h1", "a1"), ("h2", "a1"), ("h3", "a1"), ("h3", "a2")],
        ["src", "dst"],
    )
    got = {r["node"]: r for r in graph.hits(edges, iters=3).collect()}
    assert got["a1"]["auth"] > got["a2"]["auth"] > 0
    assert got["h3"]["hub"] > got["h1"]["hub"] > 0
    # each output value is rounded to 6dp, so a 5-node column sum can
    # sit up to 5 * 0.5e-6 from 1.0 (and the python float sum order
    # follows collect() order, which varies with session state)
    assert abs(sum(r["auth"] for r in got.values()) - 1.0) < 5e-6
    assert abs(sum(r["hub"] for r in got.values()) - 1.0) < 5e-6


def test_char_entropy_hand_math(spark):
    d = spark.createDataFrame(
        [(0, "aab"), (1, "abcd"), (2, "zzzz")], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["n_chars"], r["entropy_micro"], r["entropy"])
        for r in textops.char_entropy(d).collect()
    }
    # "aab": -(2/3)ln(2/3)*1e6 -> 270310; -(1/3)ln(1/3)*1e6 -> 366204
    assert got[0] == (3, 636514, 0.636514)
    # uniform over 4 chars: 4 * round(-(1/4)ln(1/4)*1e6) = 4*346574
    assert got[1] == (4, 1386296, 1.386296)
    # single symbol: ln(1) = 0
    assert got[2] == (4, 0, 0.0)


def test_pld_link_stats_self_vs_cross(spark):
    from crawlspark import graph

    edges = spark.createDataFrame(
        [
            ("a.x.com", "www.x.com"),
            ("b.x.com", "www.x.com"),
            ("c.y.com", "www.x.com"),
            ("a.z.com", "spam.z.com"),
            ("b.z.com", "spam.z.com"),
            ("q.q.com", "q.q.com"),  # self-loop dropped
        ],
        ["src", "dst"],
    )
    got = {
        r["host"]: (r["pld"], r["n_in"], r["n_self"], r["self_share"],
                    r["is_self_promoting"])
        for r in graph.pld_link_stats(edges).collect()
    }
    assert got == {
        "www.x.com": ("x.com", 3, 2, 0.666667, False),
        "spam.z.com": ("z.com", 2, 2, 1.0, True),
    }


def test_robots_directive_stats_anchoring_and_decoys(spark):
    from crawlspark import robots as rb

    body = (
        "User-agent: *\n"
        "Allow: /pub\n"
        "Disallow: /private\n"
        "disallow: /tmp\n"          # case-insensitive
        "Disallow: / \n"            # blanket (trailing space ok)
        "X-Disallow: /decoy\n"      # anchored: must not count
        "see Disallow: inline\n"    # mid-line: must not count
        "Crawl-delay: 2.5\n"
        "Sitemap: https://a.com/s.xml\n"
    )
    pages = spark.createDataFrame(
        [
            ("https://a.com/robots.txt", body),
            ("https://b.com/robots.txt", "User-agent: *\nDisallow:\n"),
            ("https://c.com/page", "Disallow: /\nnot a robots file"),
        ],
        ["url", "text"],
    )
    got = {
        r["host"]: (r["n_allow"], r["n_disallow"], r["n_sitemaps"],
                    r["crawl_delay"], r["blanket_block"])
        for r in rb.robots_directive_stats(pages).collect()
    }
    assert got == {
        "a.com": (1, 3, 1, 2.5, True),
        "b.com": (0, 1, 0, None, False),
    }


def test_meta_robots_orders_and_decoy(spark):
    rows = [
        ("u0", '<meta name="robots" content="NOINDEX, nofollow">'),
        ("u1", '<meta content="nofollow" name="robots">'),
        ("u2", '<link rel="canonical" href="https://e.com/c">'),
        ("u3", '<link href="https://e.com/c" rel="canonical">'),
        ("u4", '<meta name="viewport" content="noindex">'),
    ]
    pages = spark.createDataFrame(rows, ["url", "html"])
    got = {
        r["url"]: (r["robots_content"], r["noindex"], r["nofollow"],
                   r["has_canonical"])
        for r in textops.meta_robots(pages).collect()
    }
    assert got == {
        "u0": ("NOINDEX, nofollow", True, True, False),
        "u1": ("nofollow", False, True, False),
        "u2": (None, False, False, True),
        "u3": (None, False, False, True),
        "u4": (None, False, False, False),
    }


def test_shard_integrity_ordered_digest(spark):
    import hashlib

    rows = [("s1", 2, "bb"), ("s1", 1, "aaa"), ("s2", 3, "c")]
    d = spark.createDataFrame(rows, ["shard", "doc_id", "text"])
    got = {
        r["shard"]: (r["n_docs"], r["total_bytes"], r["shard_digest"])
        for r in textops.shard_integrity(d).collect()
    }
    m = lambda t: hashlib.md5(t.encode()).hexdigest()  # noqa: E731
    # digest orders by doc_id: md5(md5("aaa") + md5("bb"))
    assert got == {
        "s1": (2, 5, m(m("aaa") + m("bb"))),
        "s2": (1, 1, m(m("c"))),
    }


def test_script_profile_hand_counts(spark):
    rows = [(0, "ab вг 12 ."), (1, "汉汉汉"), (2, "!!!")]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in textops.script_profile(d).collect()}
    r0 = got[0]
    assert (r0["n_latin"], r0["n_cyrillic"], r0["n_digit"],
            r0["n_total"]) == (2, 2, 2, 10)
    assert r0["dominant_share"] == 0.5
    assert r0["is_mixed_script"] is True
    assert r0["other_share"] == 0.4 and r0["is_mostly_other"] is False
    r1 = got[1]
    assert (r1["n_cjk"], r1["dominant_share"], r1["is_mixed_script"]) == (
        3, 1.0, False)
    assert r1["other_share"] == 0.0
    r2 = got[2]
    assert r2["dominant_share"] is None
    assert r2["is_mixed_script"] is False
    assert r2["other_share"] == 1.0 and r2["is_mostly_other"] is True


def test_link_reciprocity_hand_counts(spark):
    from crawlspark import graph

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "c"), ("c", "c"), ("a", "b")],
        ["src", "dst"],
    )
    got = {
        r["host"]: (r["n_out_hosts"], r["n_reciprocal"],
                    r["reciprocal_share"], r["is_link_exchange"])
        for r in graph.link_reciprocity(edges, min_out=1).collect()
    }
    # a -> {b, c}: b reciprocates, c does not; duplicate a->b collapses;
    # c's only edge is a dropped self-loop so c has no out row
    assert got == {
        "a": (2, 1, 0.5, False),
        "b": (1, 1, 1.0, True),
    }


def test_politeness_ceiling_defaults_and_bottleneck(spark):
    from crawlspark import scheduler

    q = spark.createDataFrame([("x", 10), ("y", 5)], ["host", "n_queued"])
    d = spark.createDataFrame([("x", 2.0)], ["host", "crawl_delay"])
    got = {
        r["host"]: (r["crawl_delay"], r["max_rate"], r["drain_seconds"],
                    r["is_bottleneck"])
        for r in scheduler.politeness_ceiling(
            q, d, default_delay=1.0, bottleneck_seconds=10.0
        ).collect()
    }
    assert got == {
        "x": (2.0, 0.5, 20.0, True),
        "y": (1.0, 1.0, 5.0, False),
    }


def test_apply_canonical_drops_aliases_counts_survivors(spark):
    from crawlspark import graph

    mk = '<link rel="canonical" href="%s">'
    rows = [
        ("https://s.com/a", mk % "https://s.com/b"),   # alias of b -> drop
        ("https://s.com/b", mk % "https://s.com/b"),   # self -> keep
        ("https://s.com/c", "<p>no tag</p>"),          # no tag -> keep
        ("https://s.com/d", mk % "https://x.com/out"), # external -> keep
    ]
    pages = spark.createDataFrame(rows, ["url", "html"])
    got = {
        r["url"]: r["n_aliases"]
        for r in graph.apply_canonical(pages).collect()
    }
    assert got == {
        "https://s.com/b": 1,
        "https://s.com/c": 0,
        "https://s.com/d": 0,
    }


def test_round_admission_plan_three_caps(spark):
    from crawlspark import scheduler

    q = spark.createDataFrame(
        [("x", 10), ("y", 50), ("z", 5)], ["host", "n_queued"]
    )
    s = spark.createDataFrame(
        [("x", 1.0), ("y", 3.0), ("z", 0.0)], ["host", "score"]
    )
    d = spark.createDataFrame([("y", 2.0)], ["host", "crawl_delay"])
    got = {
        r["host"]: (r["budget"], r["politeness_cap"], r["admitted"],
                    r["leftover"])
        for r in scheduler.round_admission_plan(
            q, s, total_budget=40, round_wall=20.0, delays=d
        ).collect()
    }
    # budgets: x 10, y 30 (largest-remainder over scores 1:3), z 0
    # caps: x floor(20/1)=20, y floor(20/2)=10, z 20
    assert got == {
        "x": (10, 20, 10, 0),
        "y": (30, 10, 10, 40),
        "z": (0, 20, 0, 5),
    }


def test_retry_outcome_report_final_attempt_decides(spark):
    from crawlspark import scheduler

    log = spark.createDataFrame(
        [
            ("u1", 0, 503), ("u1", 1, 200),   # recovered on retry 1
            ("u2", 0, 200),                   # first-attempt success
            ("u3", 0, 503), ("u3", 1, 503),   # still failing at tier 1
        ],
        ["url", "retry_count", "status"],
    )
    got = {
        r["retry_count"]: (r["n_urls"], r["n_success"], r["success_rate"])
        for r in scheduler.retry_outcome_report(log).collect()
    }
    assert got == {0: (1, 1, 1.0), 1: (2, 1, 0.5)}


def test_robots_churn_versions_and_change_flag(spark):
    from crawlspark import robots as rb

    rows = [
        ("https://a.com/robots.txt", 1, "Disallow: /x"),
        ("https://a.com/robots.txt", 2, "Disallow: /y"),
        ("https://a.com/robots.txt", 3, "Disallow: /y"),
        ("https://b.com/robots.txt", 1, "Disallow: /z"),
        ("https://b.com/robots.txt", 9, "Disallow:  /z"),  # ws-normalized same
        ("https://c.com/page", 1, "Disallow: /w"),          # not robots
    ]
    d = spark.createDataFrame(rows, ["url", "warc_ts", "text"])
    got = {
        r["host"]: (r["n_captures"], r["n_versions"], r["changed"])
        for r in rb.robots_churn(d).collect()
    }
    assert got == {
        "a.com": (3, 2, True),
        "b.com": (2, 1, False),
    }


def test_group_quality_wilson_hand_math(spark):
    """Wilson lower bound against a python-math replay: a 2/2 group must
    NOT outrank a 19/20 group on the bound (the small-sample honesty the
    operator exists for), and all values match the closed form to 6dp."""
    import math

    from crawlspark.textops import group_quality_wilson

    def wilson(n, good, z=1.96):
        p = good / n
        zz = z * z
        return round(
            (p + zz / (2 * n) - z * math.sqrt((p * (1 - p) + zz / (4 * n)) / n))
            / (1 + zz / n), 6,
        )

    rows = ([("tiny", True)] * 2
            + [("big", True)] * 19 + [("big", False)]
            + [("mixed", True)] * 3 + [("mixed", False)] * 5)
    d = spark.createDataFrame(rows, ["host", "is_good"])
    got = {r["host"]: (r["n"], r["n_good"], r["p_hat"], r["wilson_lb"])
           for r in group_quality_wilson(d).collect()}
    assert got["tiny"] == (2, 2, 1.0, wilson(2, 2))
    assert got["big"] == (20, 19, 0.95, wilson(20, 19))
    assert got["mixed"] == (8, 3, 0.375, wilson(8, 3))
    assert got["big"][3] > got["tiny"][3]  # 19/20 beats 2/2 on the bound


def test_length_drift_psi_hand_math(spark):
    """PSI terms against a python replay (Laplace smoothing, micro-nat
    rounding): identical snapshots give all-zero terms; a shifted
    snapshot's term signs follow the shift direction."""
    import math

    from crawlspark.textops import length_drift_psi

    a = spark.createDataFrame([(10,), (60,), (110,)], ["n_chars"])
    b = spark.createDataFrame([(10,), (10,), (60,)], ["n_chars"])
    got = {r["bucket"]: (r["n_a"], r["n_b"], r["psi_term_micro"])
           for r in length_drift_psi(a, b, bucket_width=50).collect()}

    def term(na, nb, ta=3, tb=3, k=20):
        p, q = (na + 1) / (ta + k), (nb + 1) / (tb + k)
        return int(round((p - q) * math.log(p / q) * 1e6))

    assert got == {0: (1, 2, term(1, 2)), 1: (1, 1, 0), 2: (1, 0, term(1, 0))}
    assert got[0][2] > 0 and got[2][2] > 0  # any share move is positive PSI
    same = {r["psi_term_micro"]
            for r in length_drift_psi(a, a, bucket_width=50).collect()}
    assert same == {0}


def test_sitemap_coverage_counts_ghosts_uncrawled(spark):
    """sitemap_coverage through the real sitemap_entries extraction:
    advertised-and-crawled vs advertised-only urls split per host; a url
    advertised by two sitemap pages of one host counts once."""
    from crawlspark.robots import sitemap_coverage

    pages = spark.createDataFrame(
        [("https://a.com/sitemap-1.xml",
          "<url><loc>https://a.com/p1</loc></url>"
          "<url><loc>https://a.com/p2</loc></url>"),
         ("https://a.com/sitemap-2.xml",
          "<url><loc>https://a.com/p2</loc></url>"   # dup across sitemaps
          "<url><loc>https://a.com/ghost</loc></url>"),
         ("https://b.com/sitemap.xml",
          "<url><loc>https://b.com/only-ghost</loc></url>"),
         ("https://c.com/not-a-sitemap.html",        # filtered out
          "<url><loc>https://c.com/x</loc></url>")],
        ["url", "text"],
    )
    crawled = spark.createDataFrame(
        [("https://a.com/p1",), ("https://a.com/p2",),
         ("https://z.com/unrelated",)], ["url"],
    )
    got = {r["host"]: (r["n_advertised"], r["n_crawled"], r["n_uncrawled"],
                       r["coverage"])
           for r in sitemap_coverage(pages, crawled).collect()}
    assert got == {
        "a.com": (3, 2, 1, round(2 / 3, 6)),
        "b.com": (1, 0, 1, 0.0),
    }


def test_sentence_stats_hand_counts(spark):
    """Sentence shape against hand-split cases: multi-terminator runs,
    no-terminator text (one sentence), trailing terminator without
    whitespace staying attached, empty fragments dropped."""
    from crawlspark.textops import sentence_stats

    rows = [
        (0, "One two three. Four five!  Six seven eight nine?"),
        (1, "no terminator here at all"),
        (2, "Ends with period."),              # no split -> 1 sentence
        (3, "A!! B?? C.. "),                   # terminator runs
        (4, "w " * 50),                        # one 50-word run-on
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: (r["n_sentences"], r["n_words"],
                         r["avg_words_per_sentence"], r["pct_long_sentences"])
           for r in sentence_stats(d, long_words=4).collect()}
    assert got[0] == (3, 9, 3.0, 0.0)
    assert got[1] == (1, 5, 5.0, 1.0)
    assert got[2] == (1, 3, 3.0, 0.0)
    assert got[3] == (3, 3, 1.0, 0.0)
    assert got[4] == (1, 50, 50.0, 1.0)


def test_host_concentration_hand_math(spark):
    """HHI/top-share card against hand math: 6+3+1 docs over 3 hosts."""
    from crawlspark.textops import host_concentration

    rows = [("a",)] * 6 + [("b",)] * 3 + [("c",)] * 1
    d = spark.createDataFrame(rows, ["host"])
    r = host_concentration(d).collect()[0]
    assert (r["n_docs"], r["n_hosts"]) == (10, 3)
    # HHI = 0.36 + 0.09 + 0.01 = 0.46 -> 460_000_000_000 pico
    assert r["hhi_pico"] == 460_000_000_000
    assert r["top1_share"] == 0.6
    assert r["top10_share"] == 1.0


def test_host_concentration_deterministic_topk_tiebreak(spark):
    """Equal-count hosts break ties host-ascending so the card is stable
    across partitionings (top-k beyond 10 hosts drops the tail)."""
    from crawlspark.textops import host_concentration

    rows = [(f"h{i:02d}",) for i in range(12) for _ in range(2)] + [("h00",)]
    d = spark.createDataFrame(rows, ["host"]).repartition(7)
    r = host_concentration(d).collect()[0]
    assert (r["n_docs"], r["n_hosts"]) == (25, 12)
    assert r["top1_share"] == round(3 / 25, 6)
    # top10 = h00(3) + h01..h09 (2 each) = 21
    assert r["top10_share"] == round(21 / 25, 6)


def test_host_concentration_releases_cache(spark):
    """Card-op cache lifecycle (VERDICT r5 task 5): the per-host aggregate
    is persisted only inside the op — after the returned row is built, no
    storage blocks remain (the r5 shape leaked one cache entry per call)."""
    from crawlspark.textops import host_concentration

    d = spark.createDataFrame([("a",), ("a",), ("b",)], ["host"])
    before = {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    host_concentration(d).collect()
    after = {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    leaked = after - before
    assert not leaked, f"card leaked storage blocks: {sorted(leaked)}"


def test_extraction_density_hand_counts(spark):
    """Length/ratio/link-density audit against hand-computed values,
    including the low-yield flag and a zero-length html edge."""
    from crawlspark.textops import extraction_density

    html1 = '<html><a href="/x">a</a><A HREF="/y">b</A></html>'  # 49 chars
    rows = [
        ("u1", html1, "tttttttttt"),                # ratio 10/49
        ("u2", "<div>" + "x" * 95, "tiny"),         # 4/100 -> low yield
        ("u3", "", "text"),                         # html_len 0 -> NULLs
    ]
    d = spark.createDataFrame(rows, ["url", "html", "text"])
    got = {r["url"]: r.asDict() for r in extraction_density(d).collect()}
    assert got["u1"]["html_len"] == len(html1)
    assert got["u1"]["n_links"] == 2  # case-insensitive href match
    assert got["u1"]["text_ratio"] == round(10 / len(html1), 6)
    assert got["u1"]["links_per_kb"] == round(2 * 1024 / len(html1), 6)
    assert got["u1"]["low_yield"] is False
    assert got["u2"]["text_ratio"] == 0.04 and got["u2"]["low_yield"] is True
    assert got["u3"]["text_ratio"] is None and got["u3"]["low_yield"] is False


def test_robots_violation_audit_hand_counts(spark):
    """Per-host violation counts: denied-prefix fetches counted only for
    hosts WITH rules; ruleless hosts audit to zero by construction."""
    from crawlspark.robots import robots_violation_audit

    log = spark.createDataFrame(
        [("a.com", "https://a.com/private/1"),
         ("a.com", "https://a.com/ok/2"),
         ("a.com", "https://a.com/private/3"),
         ("b.com", "https://b.com/private/9")],  # no rules for b.com
        ["host", "url"],
    )
    robots = spark.createDataFrame(
        [("a.com", ["/private"])], "host string, deny_prefixes array<string>"
    )
    got = {r["host"]: (r["n_fetches"], r["n_violations"], r["violation_rate"])
           for r in robots_violation_audit(log, robots).collect()}
    assert got == {"a.com": (3, 2, round(2 / 3, 6)), "b.com": (1, 0, 0.0)}


def test_engine_fetch_log_audits_to_zero_violations(spark, tmp_path):
    """North-rule invariant: the engine's OWN fetch log, audited against
    the same robots table the crawl ran with, must show zero violations
    on every host — admission denies before fetch."""
    import pyspark.sql.functions as F

    from crawlspark.robots import robots_violation_audit
    from crawlspark.runner import CrawlRunner
    from crawlspark.scheduler import CrawlConfig
    from crawlspark.schema import PAGES, ROBOTS, SEEDS
    from crawlspark.synth import SiteSpec, generate_site

    site = generate_site(SiteSpec(n_hosts=2, lists_per_host=2, per_list=5,
                                  private_hosts=1, seed=19))
    runner = CrawlRunner(spark, str(tmp_path / "s"),
                         CrawlConfig(round_wall=1e9, per_host_cap=1000,
                                     max_depth=1))
    runner.init(spark.createDataFrame(site["seeds"], schema=SEEDS))
    robots = spark.createDataFrame(site["robots"], schema=ROBOTS)
    runner.run(spark.createDataFrame(site["pages"], schema=PAGES), robots)
    log = runner.store.fetch_log_state().select("host", "url")
    assert log.count() > 0
    audit = robots_violation_audit(log, robots)
    assert audit.filter(F.col("n_violations") > 0).count() == 0


def test_zipf_slope_hand_math(spark):
    """Zipf slope against a python least-squares replay on a corpus with
    known token frequencies (exact-power-law input gives slope ~-1)."""
    import math

    from crawlspark.textops import zipf_slope

    # freq(token_k) = 24/k for k=1..4 -> perfect Zipf, slope -1
    words = []
    for k, tok in enumerate(["alpha", "beta", "gamma", "delta"], start=1):
        words += [tok] * (24 // k)
    d = spark.createDataFrame([(" ".join(words),)], ["text"])
    r = zipf_slope(d, top_n=10).collect()[0]
    assert r["n_points"] == 4

    def micro(v):
        return round(v * 1e6)

    xs = [micro(math.log(k)) for k in range(1, 5)]
    ys = [micro(math.log(24 // k)) for k in range(1, 5)]
    n = 4
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy / 1e6 - slope * sx / 1e6) / n
    assert r["slope"] == round(slope, 6)
    assert r["intercept"] == round(intercept, 6)
    assert -1.1 < r["slope"] < -0.9  # the Zipf-shaped input reads ~-1


def test_embedding_health_hand_math(spark):
    """Health card against hand-computed norms: 3-4-0 triangle vectors,
    a zero vector, a dim-mismatched label."""
    from crawlspark.similarity import embedding_health

    rows = [
        (0, 0, [3.0, 4.0]),          # norm 5
        (1, 0, [0.0, 0.0]),          # zero vector
        (2, 0, [1.0, 0.0]),          # norm 1
        (3, 1, [2.0, 0.0, 0.0]),     # dim 3, norm 2
        (4, 1, [0.0, 2.0]),          # dim 2 -> label 1 dim range 2..3
    ]
    d = spark.createDataFrame(rows, "vec_id long, label long, embedding array<float>")
    got = {r["label"]: r.asDict() for r in embedding_health(d).collect()}
    assert got[0]["n_vecs"] == 3 and got[0]["n_zero"] == 1
    assert (got[0]["dim_min"], got[0]["dim_max"]) == (2, 2)
    # mean_norm = (5 + 0 + 1)/3 -> 2_000_000 micro
    assert got[0]["mean_norm_micro"] == 2_000_000
    assert (got[1]["dim_min"], got[1]["dim_max"]) == (2, 3)
    assert got[1]["mean_norm_micro"] == 2_000_000 and got[1]["n_zero"] == 0


def test_crawl_yield_curve_hand_counts(spark):
    """Yield curve against hand math: decaying discovery flips the
    saturation flag at the right round; cumulative sums ordered."""
    from crawlspark.scheduler import crawl_yield_curve

    rows = [  # (round, fetched, new_links) — round 1 split in two rows
        (0, 10, 30), (1, 6, 3), (1, 4, 2), (2, 10, 0), (3, 0, 0),
    ]
    d = spark.createDataFrame(rows, ["round", "fetched", "new_links"])
    got = {r["round"]: r.asDict()
           for r in crawl_yield_curve(d, saturation_rate=0.2).collect()}
    assert got[0]["discovery_rate"] == 3.0 and got[0]["saturated"] is False
    assert got[1]["fetched"] == 10 and got[1]["new_links"] == 5  # summed
    assert got[1]["discovery_rate"] == 0.5 and got[1]["saturated"] is False
    assert got[2]["discovery_rate"] == 0.0 and got[2]["saturated"] is True
    assert got[3]["discovery_rate"] is None and got[3]["saturated"] is False
    assert got[3]["cum_fetched"] == 30 and got[3]["cum_new_links"] == 35


def test_capture_cadence_hand_gaps(spark):
    """Cadence card: telescoped mean gap, lag max gap, single-capture
    NULLs; input order must not matter."""
    from crawlspark.cdx import capture_cadence

    rows = [("a", 100), ("a", 400), ("a", 150), ("b", 7)]
    d = spark.createDataFrame(rows, ["url", "ts"]).repartition(3)
    got = {r["url"]: r.asDict() for r in capture_cadence(d).collect()}
    # a: sorted ts 100,150,400 -> gaps 50, 250
    assert got["a"]["n_captures"] == 3
    assert (got["a"]["first_ts"], got["a"]["last_ts"]) == (100, 400)
    assert got["a"]["mean_gap"] == 150.0 and got["a"]["max_gap"] == 250
    assert got["b"]["n_captures"] == 1
    assert got["b"]["mean_gap"] is None and got["b"]["max_gap"] is None


def test_stale_capture_report_hand_case(spark):
    """Stale rows = declared lastmod day > last capture day; undeclared
    captures ignored; never-captured declared urls flagged; fresh urls
    absent. Integer-day algebra throughout."""
    from crawlspark.robots import stale_capture_report

    pages = spark.createDataFrame(
        [("https://a.com/sitemap.xml",
          "<urlset>"
          "<url><loc>https://a.com/p1</loc><lastmod>2024-01-10</lastmod></url>"
          "<url><loc>https://a.com/p2</loc><lastmod>2024-01-05</lastmod></url>"
          "<url><loc>https://a.com/p3</loc><lastmod>2024-01-07</lastmod></url>"
          "</urlset>")],
        ["url", "text"],
    )
    day = 19723  # 2024-01-01
    caps = spark.createDataFrame(
        [("https://a.com/p1", 86400 * (day + 4)),   # captured Jan 5 < Jan 10
         ("https://a.com/p2", 86400 * (day + 9)),   # captured Jan 10 > Jan 5
         ("https://x.com/q", 86400 * day)],         # undeclared url
        ["url", "ts"],
    )
    got = {r["url"]: r.asDict()
           for r in stale_capture_report(pages, caps).collect()}
    assert set(got) == {"https://a.com/p1", "https://a.com/p3"}
    p1 = got["https://a.com/p1"]
    assert (p1["lastmod_day"], p1["last_capture_day"]) == (day + 9, day + 4)
    assert p1["staleness_days"] == 5 and p1["never_captured"] is False
    p3 = got["https://a.com/p3"]
    assert p3["never_captured"] is True and p3["staleness_days"] is None


def test_lix_readability_hand_math(spark):
    """LIX against hand counts: classic two-sentence case, no-sentence
    empty text -> NULL, long-word threshold at exactly 7 chars."""
    from crawlspark.textops import lix_readability

    rows = [
        (0, "The quick brown fox jumped. Excellent behaviour observed."),
        (1, ""),
        (2, "abcdefg abcdef"),  # exactly-7 counts long, 6 does not
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict() for r in lix_readability(d).collect()}
    # doc 0: 8 words, 2 sentences, long: jumped.(7)? 'jumped.' is 7 chars
    # incl the period - splitter consumes '. ' between sentences but the
    # final 'observed.' keeps its dot; count by the splitter's words:
    # words = [The,quick,brown,fox,jumped.,Excellent,behaviour,observed.]
    # long(>=7) = jumped.(7), Excellent(9), behaviour(9), observed.(9) = 4
    assert got[0]["n_words"] == 8 and got[0]["n_sentences"] == 2
    assert got[0]["n_long_words"] == 4
    assert got[0]["lix"] == round(8 / 2 + 100 * 4 / 8, 6)
    assert got[1]["lix"] is None and got[1]["n_words"] == 0
    assert got[2]["n_long_words"] == 1
    assert got[2]["lix"] == round(2 / 1 + 100 * 1 / 2, 6)


def test_vocab_growth_hand_counts(spark):
    """Vocabulary card: tokens lowercased, hapax = freq-1 types."""
    from crawlspark.textops import vocab_growth

    d = spark.createDataFrame(
        [("the cat THE dog",), ("cat mouse",)], ["text"]
    )
    r = vocab_growth(d).collect()[0]
    # tokens: the, cat, the, dog, cat, mouse = 6; types: the(2) cat(2)
    # dog(1) mouse(1) = 4; hapax = 2
    assert (r["n_tokens"], r["n_types"], r["n_hapax"]) == (6, 4, 2)
    assert r["type_token_ratio"] == round(4 / 6, 6)
    assert r["hapax_share"] == 0.5
