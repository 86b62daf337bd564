"""End-to-end training-corpus preparation — the composed pipeline a
100 TB web-text run actually executes, built entirely from this repo's
operators (C4/Gopher-shaped):

    documents
      -> language filter            (textops.lang_id — pure column expr)
      -> quality filter             (textops.quality_score >= threshold)
      -> exact dedup                (keep min doc_id per fingerprint)
      -> near-dup cluster removal   (ngram Jaccard pairs -> connected
                                     components -> keep min doc per cluster)
      -> surviving corpus

Everything stays declarative DataFrame algebra (the one iterative piece,
connected components, is dedup.dup_clusters), so the WHOLE pipeline is
SQL-expressible and hash-verified against DuckDB in the driver gate
(entry_queries.t13/t14).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import textops as tx
from .dedup import dup_clusters, ngram_jaccard_pairs


def corpus_prep(
    documents: DataFrame,
    lang: str = "en",
    min_quality: float = 0.5,
    jaccard_threshold: float = 0.5,
    k: int = 3,
    max_df: int | None = 100,
    scorer: tx.TextScorer | None = None,
) -> DataFrame:
    """Surviving (doc_id) set after the full prep pipeline.

    Dedup keeps the LOWEST doc_id of each exact-duplicate group and of
    each near-dup cluster (deterministic canonical representative). The
    near-dup stage runs on the exact-deduped survivors, so exact copies
    never inflate a cluster.

    ``scorer`` (textops.TextScorer) swaps the language/quality models:
    default = the oracle-checkable heuristics (t14 stays hash-exact); a
    real fastText/KenLM model plugs in via textops.PandasScorer, and the
    in-engine TRAINED NB trigram classifier via textops.NBScorer (t69's
    model driving the t14-shaped pipeline) — all through the scorer's
    ``annotate`` hook, no pipeline changes. For pure-column scorers the
    hook compiles to exactly the filter expressions used before.
    """
    scorer = scorer or tx.HeuristicScorer()
    base = (
        scorer.annotate(documents, text_col="text", id_col="doc_id")
        .filter((F.col("_lang") == lang) & (F.col("_quality") >= min_quality))
        .select("doc_id", "text")
    )

    # exact dedup: canonical representative per fingerprint
    keep_exact = (
        base.select(tx.doc_fingerprint(F.col("text")).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    survivors = base.join(keep_exact, "doc_id", "left_semi")
    # survivors feeds BOTH the near-dup pair pipeline and the final
    # anti-join — materialize it once so the annotate + fingerprint
    # dedup subtree does not execute twice (checkpoint, not persist:
    # lineage truncated, blocks released when the result's plan is GC'd,
    # the module-wide discipline).
    spark = documents.sparkSession
    survivors = (
        survivors.checkpoint(eager=True)
        if spark.sparkContext.getCheckpointDir() is not None
        else survivors.localCheckpoint(eager=True)
    )

    # near-dup clusters among survivors; drop everything but the cluster min
    pairs = ngram_jaccard_pairs(survivors, k=k, threshold=jaccard_threshold, max_df=max_df)
    clusters = dup_clusters(pairs)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return survivors.join(losers, "doc_id", "left_anti").select("doc_id")


def web_clean(
    pages: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    soft404_short_frac: float = 0.5,
) -> DataFrame:
    """The WEB-side cleaning pipeline that runs BEFORE
    :func:`corpus_prep`'s language/quality/near-dup stages — the
    crawl-specific attrition a Common-Crawl-style corpus needs first,
    composed entirely from this repo's operators and, like corpus_prep,
    expressible as one SQL statement (hash-verified end to end in the
    driver gate):

        pages
          -> soft-404 drop         (textops.soft404_stats — error pages
                                    served with 200)
          -> encoding drop         (textops.encoding_audit — mojibake /
                                    U+FFFD / control-char suspects)
          -> line collapse         (textops.collapse_repeated_lines —
                                    adjacent template/echo repeats)
          -> exact dedup by URL    (keep the lexicographically-first
                                    url per post-collapse fingerprint —
                                    deterministic winner)

    Order matters and is part of the contract: collapse runs BEFORE
    dedup so two pages differing only in repeat-count of the same line
    collapse to one fingerprint; the soft-404 host mean is computed on
    the RAW corpus (dropping suspects first would shift every host mean
    and make the filter self-referential).

    Scale shape: the first three stages are the underlying operators'
    shapes (one host hash-agg + join, two stateless projections); dedup
    adds one min(struct) hash-agg + one semi-join — O(corpus), winner
    partial-aggregated map-side. Output: surviving (url, text,
    n_collapsed_lines) rows, text being the collapsed bytes.

    Input urls need not be unique: refetches of the same page (several
    rows per url) are collapsed FIRST to the lexicographically-min text
    per url — without this, duplicate urls would fan out quadratically
    through the two url equi-joins below and the final left_semi would
    keep every copy of the winning url. min(text) rather
    than dropDuplicates keeps the winner deterministic (dropDuplicates
    picks an arbitrary row, which would break cross-engine hash parity).
    One extra partial-aggregated hash-agg; a no-op on the declared
    unique-by-url corpus shape.
    """
    spark = pages.sparkSession

    def _ckpt(df: DataFrame) -> DataFrame:
        return (
            df.checkpoint(eager=True)
            if spark.sparkContext.getCheckpointDir() is not None
            else df.localCheckpoint(eager=True)
        )

    base = (
        pages.select(F.col(url_col).alias("url"), F.col(text_col).alias("text"))
        .groupBy("url")
        .agg(F.min("text").alias("text"))
    )
    # base feeds THREE consumers (soft-404 stats, encoding audit,
    # the kept join) and the final self-semi-join doubles the whole
    # subtree again — without materialization the url-dedup aggregate
    # executes up to 6x per call. One corpus-sized checkpoint each for
    # base and collapsed replaces those re-executions.
    base = _ckpt(base)
    s404 = tx.soft404_stats(base, short_frac=soft404_short_frac).select(
        "url", "is_soft404"
    )
    enc = tx.encoding_audit(base, id_col="url").select("url", "suspect")
    kept = (
        base.join(s404, "url")
        .join(enc, "url")
        .filter(~F.col("is_soft404") & ~F.col("suspect"))
        .select("url", "text")
    )
    collapsed = _ckpt(
        tx.collapse_repeated_lines(kept, id_col="url").select(
            "url",
            "text",
            (F.col("n_lines") - F.col("n_kept")).alias("n_collapsed_lines"),
        )
    )
    fp = collapsed.select(
        "url", tx.doc_fingerprint(F.col("text")).alias("fp")
    )
    winners = fp.groupBy("fp").agg(F.min("url").alias("url")).select("url")
    return collapsed.join(winners, "url", "left_semi")
