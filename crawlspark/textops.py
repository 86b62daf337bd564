"""Text-analysis operators for a large-scale training-data pipeline.

These extend the crawl engine's analytics tail with the operations a
100 TB web-text corpus pipeline needs (language-ID, quality scoring,
token counting, document fingerprinting). All are pure builtin-function
column expressions — JVM-side, whole-stage-codegen, no Python in the hot
path — so they scale linearly with executors.

Every operator is deterministic and has an exact ANSI-SQL twin (see
entry_queries.py oracles), so correctness is machine-checkable against
DuckDB on the same parquet.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .session import spread_input

# tiny stopword sets for the n-gram/stopword language heuristic
EN_STOP = ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"]


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization (BPE-ish regex split). Exact SQL twin:
    DuckDB string_split(text, ' ')."""
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens_col(text))


def avg_token_len(text: Column) -> Column:
    """Mean token length — a quality-score component. Computed as
    arithmetic over lengths (no UDF)."""
    t = tokens_col(text)
    return (F.length(F.concat_ws("", t)).cast("double") / F.size(t))


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    sw = stopwords or EN_STOP
    t = tokens_col(F.lower(text))
    hits = F.size(F.filter(t, lambda x: x.isin(*[F.lit(s) for s in sw])))
    return hits.cast("double") / F.size(t)


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^\.,;:!\?]", "")
    return F.length(stripped).cast("double") / F.length(text)


def quality_score(text: Column) -> Column:
    """Composite quality score in [0,1]-ish: favors mid-length docs with
    low punctuation density — the shape of heuristic web-text filters
    (C4/Gopher-style length+punct+stopword rules), fully deterministic."""
    n = token_count(text).cast("double")
    len_term = F.least(n / F.lit(100.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(text) * 10.0, F.lit(1.0))
    return F.round(len_term * 0.6 + punct_term * 0.4, 4)


def lang_id(text: Column) -> Column:
    """Stopword-hit language heuristic: 'en' if the doc contains enough
    English stopwords, else 'und'. (A real n-gram model slots in here; the
    operator shape — pure column expr, no shuffle — is what matters.)"""
    ratio = stopword_ratio(text)
    return F.when(ratio >= 0.05, F.lit("en")).otherwise(F.lit("und"))


class TextScorer:
    """Pluggable language-ID / quality-model seam (the FetchBackend
    pattern, N7: the engine declares WHERE a model slots in; the default
    implementation stays pure-column and oracle-checkable).

    A scorer maps the text column to a language code column and a quality
    score column. Pipelines (pipeline.corpus_prep) take a scorer object,
    so swapping the heuristics for a real fastText / KenLM model touches
    no pipeline code — only the scorer. Contract: deterministic per text
    value (pipelines may recompute the columns across branches).
    """

    def lang_col(self, text: Column) -> Column:
        raise NotImplementedError

    def quality_col(self, text: Column) -> Column:
        raise NotImplementedError

    def annotate(self, documents: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
        """Relational hook: return ``documents`` with ``_lang`` and
        ``_quality`` columns appended. The default derives both from the
        column-level contract above (zero extra shuffles), which keeps
        pure-column scorers exactly as before; scorers whose model IS a
        relational computation (the trained NB trigram classifier —
        :class:`NBScorer`) override this to join predictions back by id.
        Pipelines (pipeline.corpus_prep) consume ONLY this hook."""
        t = F.col(text_col)
        return documents.withColumn("_lang", self.lang_col(t)).withColumn(
            "_quality", self.quality_col(t)
        )


class HeuristicScorer(TextScorer):
    """Default: the stopword/length/punctuation heuristics below — pure
    builtin column expressions (JVM codegen, no Python in the hot path)
    with exact DuckDB twins, keeping the t01/t02/t14 driver gates
    hash-exact."""

    def lang_col(self, text: Column) -> Column:
        return lang_id(text)

    def quality_col(self, text: Column) -> Column:
        return quality_score(text)


class PandasScorer(TextScorer):
    """Arrow-vectorized model adapter: wrap two ``pd.Series -> pd.Series``
    callables (e.g. a fastText ``predict`` batched over a list, a KenLM
    perplexity scorer) as pandas UDFs. The model object must be
    constructible ON THE EXECUTOR — pass a zero-arg factory, not a live
    handle, so each worker loads the model once (lazy init per process)
    instead of shipping weights through the closure every task.

        scorer = PandasScorer(lambda: MyModel("/path/on/executors"))
        corpus_prep(docs, scorer=scorer)

    where ``MyModel`` exposes ``lang(pd.Series) -> pd.Series[str]`` and
    ``quality(pd.Series) -> pd.Series[float]``.
    """

    def __init__(self, model_factory):
        self._factory = model_factory

    def _udf(self, method: str, ret_type: str):
        import pandas as pd  # noqa: F401 (worker-side)
        from pyspark.sql.functions import pandas_udf

        factory = self._factory
        state: dict = {}

        @pandas_udf(ret_type)
        def _run(texts):
            if "m" not in state:  # one model load per python worker
                state["m"] = factory()
            return getattr(state["m"], method)(texts)

        return _run

    def lang_col(self, text: Column) -> Column:
        return self._udf("lang", "string")(text)

    def quality_col(self, text: Column) -> Column:
        return self._udf("quality", "double")(text)


class NBScorer(TextScorer):
    """The trained in-engine model as a corpus_prep scorer:
    language comes from :func:`nb_lang_id` — the char-trigram multinomial
    Naive Bayes classifier trained on labeled rows (t69, held-out eval
    t70) — instead of the stopword heuristic; quality delegates to a
    wrapped column scorer (heuristic default, or any TextScorer).

    The model is relational (train + score are joins/aggs over the
    corpus), so this scorer implements the :meth:`TextScorer.annotate`
    hook rather than ``lang_col``: predictions join back to documents by
    id (one extra equi-join on the id key; the model tables themselves
    are bounded by |langs|·|trigram vocab| — nb_lang_id's scale shape).
    Docs the classifier cannot score (< 3 chars — no trigrams) fall back
    to ``und``, matching the heuristic's unknown bucket.

    ``train``: labeled (id, lang, text) rows the model is ESTIMATED from
    (e.g. a curated seed set); default None self-trains on the scored
    corpus's own ``lang`` labels — the t69 shape.

        corpus_prep(docs, scorer=NBScorer())            # self-train
        corpus_prep(docs, scorer=NBScorer(train=seed))  # honest split
    """

    def __init__(self, train: DataFrame | None = None, add_k: float = 0.5,
                 quality: TextScorer | None = None,
                 label_col: str = "lang"):
        self.train = train
        self.add_k = add_k
        self.quality = quality or HeuristicScorer()
        self.label_col = label_col

    def quality_col(self, text: Column) -> Column:
        return self.quality.quality_col(text)

    def annotate(self, documents: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
        preds = nb_lang_id(
            documents, add_k=self.add_k, text_col=text_col, id_col=id_col,
            label_col=self.label_col, train=self.train,
        ).select(id_col, F.col("predicted").alias("_lang"))
        return documents.join(preds, id_col, "left").withColumn(
            "_lang", F.coalesce(F.col("_lang"), F.lit("und"))
        ).withColumn("_quality", self.quality_col(F.col(text_col)))


def doc_fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 over the
    whitespace-normalized lowercased text (rolling-hash analog; md5 is
    bit-identical across Spark and DuckDB so the oracle is exact)."""
    norm = F.lower(F.regexp_replace(text, r"\s+", " "))
    return F.md5(norm)


def shingles_col(text: Column, k: int = 3) -> Column:
    """Word k-gram shingles as an array column — built from sequence +
    transform (no UDF, no explode until the caller wants one)."""
    t = tokens_col(text)
    idx = F.sequence(F.lit(0), F.size(t) - k)
    return F.when(
        F.size(t) >= k,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i + 1, k))),
    ).otherwise(F.array(F.concat_ws(" ", t)))


def profile(documents: DataFrame) -> DataFrame:
    """One-pass text profile of a documents table."""
    return documents.select(
        "doc_id",
        "lang",
        token_count(F.col("text")).alias("n_tokens"),
        F.round(avg_token_len(F.col("text")), 4).alias("avg_token_len"),
        quality_score(F.col("text")).alias("quality"),
        lang_id(F.col("text")).alias("lang_pred"),
        doc_fingerprint(F.col("text")).alias("fingerprint"),
    )


# -- PII scrubbing -------------------------------------------------------------

# Conservative patterns chosen to behave IDENTICALLY in Java regex (Spark)
# and RE2 (DuckDB): no lookarounds, no backrefs.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"


def pii_counts(text: Column) -> tuple[Column, Column]:
    """(n_emails, n_phones) found in the text — audit counters a corpus
    release pipeline reports before/after scrubbing."""
    return (
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), F.lit(0))),
        F.size(F.regexp_extract_all(text, F.lit(PHONE_RE), F.lit(0))),
    )


def scrub_pii(text: Column) -> Column:
    """Redact emails/phones with fixed placeholder tokens (the C4/Dolma
    prep step before training). Pure regexp_replace — codegen, no UDF;
    deterministic, so the scrubbed corpus is reproducible byte-for-byte."""
    out = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, PHONE_RE, "<PHONE>")


def pii_audit(documents: DataFrame) -> DataFrame:
    """Per-doc PII audit + scrubbed-text fingerprint (md5 so the oracle
    can verify the scrub byte-exactly without shipping the text)."""
    n_email, n_phone = pii_counts(F.col("text"))
    return documents.select(
        "doc_id",
        n_email.alias("n_emails"),
        n_phone.alias("n_phones"),
        F.md5(scrub_pii(F.col("text"))).alias("scrubbed_md5"),
    )


# -- paragraph-level dedup -----------------------------------------------------


def paragraph_dedup_groups(
    documents: DataFrame, min_chars: int = 40, delimiter: str = "\n"
) -> DataFrame:
    """Cross-doc duplicated PARAGRAPHS (the Dolma/RefinedWeb paragraph
    dedup unit): split on ``delimiter`` (a Java regex — escape literals;
    newline for web-text paragraphs, '\\\\. ' for sentence-level dedup),
    keep substantial units, hash, group. One explode + one hash-agg
    shuffle — same scale shape as exact doc dedup (t03) but at
    sub-document granularity, which is where most boilerplate duplication
    lives in web text.

    Output: (para_hash, n_occurrences, n_docs, keep_doc_id) for
    paragraphs appearing in more than one document."""
    paras = documents.select(
        "doc_id",
        F.explode(F.split(F.col("text"), delimiter)).alias("para"),
    ).filter(F.length(F.trim(F.col("para"))) >= min_chars)
    return (
        paras.select("doc_id", F.md5(F.trim(F.col("para"))).alias("para_hash"))
        .groupBy("para_hash")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


# -- benchmark-contamination check ---------------------------------------------


def contamination_check(
    documents: DataFrame, probe: DataFrame, k: int = 3, min_shared: int = 2
) -> DataFrame:
    """Training-set contamination: docs sharing >= min_shared distinct
    word-k-gram shingles with a benchmark PROBE set (the standard n-gram
    decontamination pass run before training). Implementation is an
    equi-join on shingle — never doc x probe pairs:

        probe shingles (distinct, usually tiny) are broadcast;
        corpus shingles semi-join them, then one hash-agg per doc.

    Output: (doc_id, n_shared_shingles) for non-probe docs over the bar."""
    probe_sh = (
        probe.select(F.explode(F.array_distinct(shingles_col(F.col("text"), k))).alias("shingle"))
        .distinct()
    )
    probe_ids = probe.select("doc_id")
    # the corpus-side shingle explode is the operator's heavy term —
    # parallelize it when the input is an unsplittable small parquet
    # (no-op at corpus scale; guide §2.5)
    doc_sh = spread_input(documents).join(probe_ids, "doc_id", "left_anti").select(
        "doc_id", F.explode(F.array_distinct(shingles_col(F.col("text"), k))).alias("shingle")
    )
    return (
        doc_sh.join(F.broadcast(probe_sh), "shingle", "inner")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_shingles"))
        .filter(F.col("n_shared_shingles") >= min_shared)
    )


# -- Gopher-style repetition signals -------------------------------------------


def repetition_signals(
    documents: DataFrame,
    max_dup_line_frac: float = 0.3,
    max_top_2gram_frac: float = 0.2,
    line_delimiter: str = "\n",
) -> DataFrame:
    """Per-doc repetition quality signals in the style of the Gopher rules
    (Rae et al. 2021, table A1): the fraction of line occurrences that are
    duplicates of an earlier line, the fraction of line characters inside
    those duplicate occurrences, and the fraction of text characters
    covered by the single most frequent word-2-gram. Docs breaching either
    threshold get flagged (the standard web-text repetition filter).

    Two explode+hash-agg pipelines (lines, 2-grams) joined on doc_id —
    shuffle keys are (doc_id, line/gram), so heavy repetition inside one
    doc stays one group and the plan scales like exact dedup. Tiebreak
    for the top 2-gram is (count DESC, gram ASC), deterministic."""
    # parallelize the scan-side heavy lifting (explode/trigram/
    # line split) when the input is an unsplittable small parquet;
    # no-op at corpus scale and for well-partitioned inputs
    documents = spread_input(documents)

    lines = documents.select(
        "doc_id", F.explode(F.split(F.col("text"), line_delimiter)).alias("line")
    )
    per_line = lines.groupBy("doc_id", "line").agg(F.count("*").alias("cnt"))
    line_sig = per_line.groupBy("doc_id").agg(
        F.round(
            F.sum(F.col("cnt") - 1) / F.sum("cnt"), 6
        ).alias("dup_line_frac"),
        F.round(
            F.sum((F.col("cnt") - 1) * F.length("line"))
            / F.sum(F.col("cnt") * F.length("line")), 6
        ).alias("dup_line_char_frac"),
    )

    grams = documents.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.explode(shingles_col(F.col("text"), 2)).alias("gram"),
    )
    per_gram = grams.groupBy("doc_id", "n_chars", "gram").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("gram"))
    top = (
        per_gram.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "doc_id",
            F.round(
                F.col("cnt") * F.length("gram") / F.col("n_chars"), 6
            ).alias("top_2gram_char_frac"),
        )
    )
    return line_sig.join(top, "doc_id").select(
        "doc_id", "dup_line_frac", "dup_line_char_frac", "top_2gram_char_frac",
        (
            (F.col("dup_line_frac") > max_dup_line_frac)
            | (F.col("top_2gram_char_frac") > max_top_2gram_frac)
        ).alias("flagged"),
    )


# -- C4-style global line dedup with keep-first reconstruction -----------------


def line_dedup_corpus(
    documents: DataFrame,
    min_chars: int = 40,
    delimiter: str = "\n",
    joiner: str | None = None,
) -> DataFrame:
    """The C4 cleaning transformation (Raffel et al. 2020 §2.2): when a
    line occurs more than once in the ENTIRE corpus, keep only its first
    occurrence (ordered by doc_id, then position) and rebuild every
    document from its surviving lines in original order. This is the
    *producing* half of dedup — t16/paragraph_dedup_groups reports the
    duplicate groups; this emits the cleaned corpus.

    Scale shape (the part that matters at 100 TB): the "first
    occurrence" winner per line is an argmin, computed as a
    partial-aggregatable ``min(struct(doc_id, pos))`` hash-agg keyed by
    line hash — map-side combine collapses a boilerplate line's 10^9
    occurrences to one candidate per map task, so there is NO skewed
    row_number window over the raw exploded relation (the naive shape
    puts every occurrence of "click here to subscribe" in one reducer).
    The join back is equi on line_hash with a 1-row-per-key build side
    (AQE skew-split handles hot probe keys), then one hash-agg per doc
    reconstructs the text. Lines shorter than ``min_chars`` (after trim)
    are exempt and always kept — eligibility is a pure function of the
    line string, so all occurrences of a line agree on it.

    ``delimiter`` is a Java regex for the split; ``joiner`` (default:
    the delimiter verbatim) is the literal used to stitch kept lines.

    Output: (doc_id, text_deduped, n_lines_kept, n_lines_dropped)."""
    joiner = delimiter if joiner is None else joiner
    lines = documents.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), delimiter)).alias("pos", "line"),
    ).withColumn("eligible", F.length(F.trim(F.col("line"))) >= min_chars)
    hashed = lines.withColumn("line_hash", F.md5(F.col("line")))
    firsts = (
        hashed.filter(F.col("eligible"))
        .groupBy("line_hash")
        .agg(F.min(F.struct("doc_id", "pos")).alias("first"))
    )
    keep = (~F.col("eligible")) | (
        (F.col("doc_id") == F.col("first.doc_id"))
        & (F.col("pos") == F.col("first.pos"))
    )
    kept = hashed.join(firsts, "line_hash", "left").withColumn("keep", keep)
    return kept.groupBy("doc_id").agg(
        F.concat_ws(
            joiner,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("pos", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
        ).alias("text_deduped"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_lines_kept"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("n_lines_dropped"),
    )


def host_boilerplate_removal(
    pages: DataFrame,
    min_doc_frac: float = 0.5,
    min_docs: int = 2,
    min_chars: int = 1,
    delimiter: str = "\n",
    joiner: str | None = None,
    host: str = "host",
) -> DataFrame:
    """Per-host boilerplate-line removal: a line that appears in >=
    ``min_doc_frac`` of a host's documents (and in >= ``min_docs`` of
    them) is site furniture — nav bars, footers, cookie banners — and is
    removed from EVERY document of that host; documents are rebuilt from
    the surviving lines in original order. This is the host-scoped
    frequency rule web pipelines run before content filters (the
    remove-if-common half; ``line_dedup_corpus`` is C4's keep-first
    global rule — complementary, not overlapping: boilerplate must not
    survive even once).

    Scale shape: document frequency per (host, line) comes from an
    IN-ROW distinct (``array_distinct`` before the explode — a doc's
    repeated line counts once, with no corpus-wide distinct shuffle,
    the same trick as shingle_index) followed by one hash-agg; host doc
    counts are one hash-agg to |hosts| rows; both joins are equi-joins
    whose build sides are aggregates (1 row per (host, line_hash) /
    per host — AQE skew-split absorbs hot hosts). The rebuild is the
    line_dedup_corpus shape: left join + per-doc hash-agg, no windows
    over raw lines.

    Lines shorter than ``min_chars`` after trim are exempt (always
    kept) — with the default 1, only empty/whitespace lines, so blank
    separators never count as "shared across the site".

    Input: (doc_id, <host>, text). Output: (doc_id, text_cleaned,
    n_lines_kept, n_lines_dropped)."""
    joiner = delimiter if joiner is None else joiner
    split = F.split(F.col("text"), delimiter)
    eligible = F.length(F.trim(F.col("line"))) >= min_chars

    per_doc = (
        pages.select(
            F.col(host).alias("_host"),
            F.explode(F.array_distinct(split)).alias("line"),
        )
        .filter(eligible)
        .select("_host", F.md5(F.col("line")).alias("line_hash"))
    )
    df_counts = per_doc.groupBy("_host", "line_hash").agg(
        F.count("*").alias("_n_docs_with_line")
    )
    docs_per_host = pages.groupBy(F.col(host).alias("_host")).agg(
        F.count("*").alias("_n_host_docs")
    )
    boiler = (
        df_counts.join(docs_per_host, "_host")
        .filter(
            (F.col("_n_docs_with_line") >= min_docs)
            & (
                F.col("_n_docs_with_line")
                >= F.lit(min_doc_frac) * F.col("_n_host_docs")
            )
        )
        .select("_host", "line_hash", F.lit(True).alias("_bp"))
    )

    lines = pages.select(
        "doc_id",
        F.col(host).alias("_host"),
        F.posexplode(split).alias("pos", "line"),
    ).withColumn("line_hash", F.md5(F.col("line")))
    marked = lines.join(boiler, ["_host", "line_hash"], "left")
    keep = (~eligible) | F.col("_bp").isNull()
    kept = marked.withColumn("keep", keep)
    return kept.groupBy("doc_id").agg(
        F.concat_ws(
            joiner,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("pos", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
        ).alias("text_cleaned"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_lines_kept"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("n_lines_dropped"),
    )


# -- deterministic domain-mixture sampling -------------------------------------


def sample_fraction_col(key: Column, salt: str = "mix") -> Column:
    """Deterministic per-row uniform in [0, 1): the first 4 hex digits of
    md5(salt ':' key) scaled by 2^-16. Engine-independent (exact DuckDB
    twin via hex-digit arithmetic), so a mixture decision is reproducible
    across reruns, resumes, and implementations — the property a
    training-data sampler must have (re-running the pipeline must not
    re-roll the dice)."""
    hx = F.md5(F.concat(F.lit(salt + ":"), key.cast("string")))
    return F.conv(F.substring(hx, 1, 4), 16, 10).cast("double") / F.lit(65536.0)


def stratified_sample(
    documents: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "source",
    key_col: str = "doc_id",
    default_rate: float = 1.0,
    salt: str = "mix",
) -> DataFrame:
    """Domain-mixture subsampling (the per-source up/down-weighting pass
    of C4/Pile/RefinedWeb-style corpus assembly): keep a row iff its
    deterministic uniform u(key) < rate(stratum). The rates map is a
    human-authored mixture config — always tiny — compiled into a literal
    CASE expression, so the whole operator is a stateless projection +
    filter: zero shuffles, embarrassingly parallel, fully pushed into the
    scan stage at any corpus size."""
    rate: Column = F.lit(float(default_rate))
    expr = None
    for s, r in rates.items():
        cond = F.col(stratum_col) == F.lit(s)
        expr = F.when(cond, F.lit(float(r))) if expr is None else expr.when(cond, F.lit(float(r)))
    if expr is not None:
        rate = expr.otherwise(rate)
    u = sample_fraction_col(F.col(key_col), salt)
    return documents.withColumn("_u", u).filter(F.col("_u") < rate).drop("_u")


# -- exact quality deciles via bounded-cardinality histogram -------------------


def quality_deciles(documents: DataFrame, n_buckets: int = 10) -> DataFrame:
    """Per-language quality-score decile table (the 'keep the top X% by
    quality' stage of DCLM/FineWeb-style filtering), computed EXACTLY but
    scale-safely. The naive shape — ntile() over (partition by lang order
    by score) — is a per-language global sort: on a web corpus where one
    language holds 80% of documents that is a single-reducer scale-killer.
    Instead: quality_score is rounded to 4 decimals, so the (lang, score)
    histogram is bounded at ~10^4 rows per language regardless of corpus
    size. One partial-aggregatable hash-agg builds it; the cumulative
    window then runs over the TINY histogram, and the decile of a score is
    ceil(n_buckets * cdf) (ties share a decile — a score value never
    straddles a filter boundary, the semantics a threshold filter wants).

    Output: (lang, decile, n_docs, min_score, max_score)."""
    scored = documents.select(
        "lang", quality_score(F.col("text")).alias("q")
    )
    hist = scored.groupBy("lang", "q").agg(F.count("*").alias("cnt"))
    w = (
        Window.partitionBy("lang")
        .orderBy("q")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("lang")
    with_decile = hist.withColumn(
        "decile",
        F.least(
            F.ceil(
                F.lit(n_buckets)
                * F.sum("cnt").over(w)
                / F.sum("cnt").over(tot)
            ),
            F.lit(n_buckets),
        ).cast("int"),
    )
    return with_decile.groupBy("lang", "decile").agg(
        F.sum("cnt").alias("n_docs"),
        F.min("q").alias("min_score"),
        F.max("q").alias("max_score"),
    )


# -- ExactSubstr-style duplicated-span audit -----------------------------------


def window_dup_stats(documents: DataFrame, w: int = 8) -> DataFrame:
    """Per-document duplicated-span audit at fixed token-window
    granularity — the shuffle-engine re-expression of the ExactSubstr
    pass from Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"): their suffix array finds substrings shared
    across documents; a fixed width-``w`` token-window scan finds the
    same cross-doc repeated spans as an equi-join-able key, which is the
    shape a 100 TB corpus can actually run (suffix arrays don't shard;
    hash-aggregations do).

    Scale shape — the unique-window COMPLEMENT, one linear pipeline
    over a single explode of the corpus:

    - ``n_windows`` per doc is pure row-local arithmetic on the token
      count (no explode, no shuffle) that mirrors ``shingles_col``'s
      short-text CASE exactly (pinned by a test).
    - A window with df==1 has exactly ONE owner doc, so the per-window
      aggregate can carry ``min(doc_id)`` as a witness and
      ``sum(hits)`` as that owner's occurrence count: per-doc UNIQUE
      window counts come straight out of the window-keyed aggregate,
      and ``n_dup_windows = n_windows - n_uniq`` (every window either
      appears in exactly one doc or in >= 2).

    Why this beats the naive hits-join-df tree: that shape consumes the
    exploded relation on BOTH join branches, and Catalyst's column
    pruning makes the two partial-agg subtrees non-identical (the df
    branch drops the hits count), so ReuseExchange can NOT dedupe them
    — the full corpus scan + explode runs twice. Here the exploded
    relation has exactly one consumer, every aggregate partial-combines
    map-side (a boilerplate window in 10^8 docs reduces to per-mapper
    counts — no skewed join probe side at all), and the only join left
    is a doc_id equi-join of two 1-row-per-doc relations. 4 exchanges
    vs 5, one explode pass vs two, zero skew exposure.

    Output: (doc_id, n_windows, n_dup_windows, dup_fraction) for docs
    containing at least one window that also appears in another doc."""
    # parallelize the scan-side heavy lifting (explode/trigram/
    # line split) when the input is an unsplittable small parquet;
    # no-op at corpus scale and for well-partitioned inputs
    documents = spread_input(documents)

    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    totals = documents.select(
        "doc_id",
        F.when(n_tok >= w, n_tok - w + 1)
        .otherwise(F.lit(1))
        .cast("long")
        .alias("n_windows"),
    )
    wins = documents.select(
        "doc_id", F.explode(shingles_col(F.col("text"), w)).alias("win")
    )
    uniq = (
        wins.groupBy("doc_id", F.md5(F.col("win")).alias("win_hash"))
        .agg(F.count("*").alias("hits"))
        .groupBy("win_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("doc_id"),
            F.sum("hits").alias("hits"),
        )
        .filter(F.col("n_docs") == 1)
        .groupBy("doc_id")
        .agg(F.sum("hits").alias("n_uniq"))
    )
    return (
        totals.join(uniq, "doc_id", "left")
        .withColumn(
            "n_dup_windows",
            F.col("n_windows") - F.coalesce(F.col("n_uniq"), F.lit(0)),
        )
        .filter(F.col("n_dup_windows") > 0)
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.round(F.col("n_dup_windows") / F.col("n_windows"), 6).alias(
                "dup_fraction"
            ),
        )
    )


# -- document-frequency vocabulary / IDF table ---------------------------------


def df_vocabulary(
    documents: DataFrame, top_k: int = 20, stratum_col: str = "lang"
) -> DataFrame:
    """Per-language document-frequency vocabulary: the top-``top_k``
    terms per stratum by document frequency, with their IDF — the table
    a corpus pipeline derives to induce stopword lists, audit
    boilerplate vocabulary, and feed TF-IDF scoring. Ranking is by the
    integer df (ties broken by term), so the order is exactly
    reproducible across engines; the float IDF is carried but never
    ranked on.

    Scale shape: within-doc distinct is computed inside the row
    (array_distinct before the explode — doc_id is the PK, so this IS
    the full per-(doc, term) distinct, no corpus-wide shuffle), then one
    hash-agg to (stratum, term) df. The rank window runs over the
    aggregated vocabulary (bounded by distinct terms, not docs), and the
    per-stratum doc totals join is a #strata-row aggregate AQE
    broadcasts on its own.

    Output: (lang, term, df, n_docs, idf, rank), rank <= top_k."""
    toks = documents.select(
        F.col(stratum_col),
        F.explode(
            F.array_distinct(
                F.filter(tokens_col(F.col("text")), lambda t: t != "")
            )
        ).alias("term"),
    )
    dfc = toks.groupBy(stratum_col, "term").agg(F.count("*").alias("df"))
    totals = documents.groupBy(stratum_col).agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy(stratum_col).orderBy(F.desc("df"), F.asc("term"))
    return (
        dfc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top_k)
        .join(totals, stratum_col)
        .select(
            stratum_col,
            "term",
            "df",
            "n_docs",
            F.round(F.log(F.col("n_docs") / F.col("df")), 6).alias("idf"),
            "rank",
        )
    )


def token_budget(documents: DataFrame, by: str = "lang") -> DataFrame:
    """Training-token budget card: per stratum (default language), the
    document count, total token count, its share of the corpus, and the
    cumulative share walking strata largest-first — the data-mixture
    table every training run publishes (Llama/GPT-style "X% English,
    Y% code" cards) and the input to mixture reweighting.

    Scale: one hash-aggregate shuffle over the corpus collapses 10^10
    docs to |strata| rows (map-side partial sums do the heavy lifting);
    the share/cumulative windows run over that tiny aggregate — never a
    global sort of raw documents. Deterministic total order: tokens
    DESC, stratum ASC.
    """
    per = documents.groupBy(F.col(by).alias("stratum")).agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(F.col("text")).cast("long")).alias("total_tokens"),
    )
    w_all = Window.partitionBy()
    w_cum = (
        Window.partitionBy()
        .orderBy(F.col("total_tokens").desc(), F.col("stratum").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per.select(
        "stratum",
        "n_docs",
        "total_tokens",
        F.round(F.col("total_tokens") / F.sum("total_tokens").over(w_all), 6).alias(
            "token_share"
        ),
        F.round(
            F.sum("total_tokens").over(w_cum) / F.sum("total_tokens").over(w_all), 6
        ).alias("cum_share"),
        F.row_number().over(
            Window.partitionBy().orderBy(
                F.col("total_tokens").desc(), F.col("stratum").asc()
            )
        ).cast("int").alias("rank"),
    )


def domain_stats(
    documents: DataFrame,
    by: str = "source",
    max_dup_rate: float = 0.5,
    min_mean_quality: float = 0.5,
) -> DataFrame:
    """FineWeb-style domain-level quality aggregation: per stratum
    (default source domain) the doc count, exact-duplicate rate, mean
    token count, mean quality score, and a keep verdict — the table a
    corpus pipeline uses to drop whole spam/mirror domains BEFORE
    per-document filtering (a domain whose docs are mostly copies of
    each other, or mostly low-quality, is cheaper to cut at the domain
    level than doc by doc).

    dup_rate counts a doc as duplicated when its content fingerprint
    appears more than once CORPUS-WIDE (mirrors count against both
    domains), the same md5-normalized fingerprint as exact_dedup/t03.

    Scale shape: one hash-agg collapses the corpus to |distinct
    fingerprint| counts (within-domain copies collapse map-side), one
    equi-join back on fingerprint (O(corpus), never corpus²), one final
    hash-agg to |strata| rows. No windows over raw docs, no broadcast of
    corpus-derived sets. Quality is the HeuristicScorer expression —
    oracle-exact in DuckDB (t02's twin)."""
    text = F.col("text")
    base = documents.select(
        F.col(by).alias("stratum"),
        doc_fingerprint(text).alias("fingerprint"),
        token_count(text).alias("n_tok"),
        quality_score(text).alias("q"),
    )
    fp_counts = base.groupBy("fingerprint").agg(F.count("*").alias("n_fp"))
    per = (
        base.join(fp_counts, "fingerprint")
        .groupBy("stratum")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("n_fp") > 1).cast("long")).alias("n_dup_docs"),
            F.round(F.avg("n_tok"), 6).alias("mean_tokens"),
            F.round(F.avg("q"), 6).alias("mean_quality"),
        )
    )
    dup_rate = F.round(F.col("n_dup_docs") / F.col("n_docs"), 6)
    return per.select(
        "stratum",
        "n_docs",
        "n_dup_docs",
        dup_rate.alias("dup_rate"),
        "mean_tokens",
        "mean_quality",
        (
            (dup_rate <= max_dup_rate)
            & (F.col("mean_quality") >= min_mean_quality)
        ).alias("keep"),
    )


def decontaminate(
    documents: DataFrame, probe: DataFrame, k: int = 3, min_shared: int = 2
) -> DataFrame:
    """The PRODUCING half of contamination_check (RefinedWeb/GPT-3-style
    n-gram decontamination): return the corpus with probe docs and every
    doc sharing >= min_shared distinct k-gram shingles with the probe
    set removed. One extra anti-join over the check — the hit list is
    O(contaminated), tiny next to the corpus."""
    hits = contamination_check(documents, probe, k, min_shared).select("doc_id")
    clean = documents.join(probe.select("doc_id"), "doc_id", "left_anti")
    return clean.join(hits, "doc_id", "left_anti")


# -- first-fail quality funnel -------------------------------------------------

FUNNEL_RULES = (
    "too_short",
    "too_long",
    "lang_filtered",
    "low_quality",
    "repetitive",
)


def funnel_verdict_col(
    min_tokens: int = 20,
    max_tokens: int = 100_000,
    allowed_langs: tuple[str, ...] | None = None,
    min_quality: float = 0.3,
    min_distinct_ratio: float = 0.3,
) -> Column:
    """The first-fail verdict as a pure column expression over ``text``
    (and ``lang`` when ``allowed_langs`` is set) — shared by the batch
    funnel and the streaming funnel so both charge a document to the
    identical rule."""
    text = F.col("text")
    toks = tokens_col(text)
    n_tok = F.size(toks)
    distinct_ratio = (
        F.size(F.array_distinct(toks)).cast("double") / n_tok
    )
    checks = [
        ("too_short", n_tok < min_tokens),
        ("too_long", n_tok > max_tokens),
        (
            "lang_filtered",
            ~F.col("lang").isin(list(allowed_langs))
            if allowed_langs is not None
            else F.lit(False),
        ),
        ("low_quality", quality_score(text) < min_quality),
        ("repetitive", distinct_ratio < min_distinct_ratio),
    ]
    verdict = None
    for name, cond in checks:
        verdict = (
            F.when(cond, F.lit(name))
            if verdict is None
            else verdict.when(cond, F.lit(name))
        )
    return verdict.otherwise(F.lit("kept"))


def quality_funnel(
    documents: DataFrame,
    min_tokens: int = 20,
    max_tokens: int = 100_000,
    allowed_langs: tuple[str, ...] | None = None,
    min_quality: float = 0.3,
    min_distinct_ratio: float = 0.3,
) -> DataFrame:
    """Composed heuristic filter with FIRST-FAIL attribution — the
    attrition funnel a production pipeline (C4 -> Gopher -> FineWeb
    lineage) publishes next to the cleaned corpus: every document is
    charged to the first rule that rejects it (fixed order
    ``FUNNEL_RULES``), so the report is a partition of the corpus and
    the rule counts sum to the input count. Reported per verdict:
    document count, token count (the tokens the rule costs), and shares.

    Scale shape: every rule is a within-row column expression
    (length / language / quality-score / distinct-token ratio — no
    cross-doc state), so the verdict stage is a stateless projection
    fully inside whole-stage codegen; ONE hash-agg collapses the corpus
    to <=6 rows and the share windows run over that aggregate. A
    cross-doc rule (e.g. dup clusters) composes by anti-joining its
    removal list before this funnel.

    Output: (verdict, n_docs, n_tokens, doc_share, token_share),
    verdict in FUNNEL_RULES + 'kept'."""
    marked = documents.select(
        funnel_verdict_col(
            min_tokens, max_tokens, allowed_langs, min_quality,
            min_distinct_ratio,
        ).alias("verdict"),
        token_count(F.col("text")).cast("long").alias("n_tok"),
    )
    agg = marked.groupBy("verdict").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )
    w_all = Window.partitionBy()
    return agg.select(
        "verdict",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w_all), 6).alias(
            "doc_share"
        ),
        F.round(
            F.col("n_tokens") / F.sum("n_tokens").over(w_all), 6
        ).alias("token_share"),
    )


# -- sequence packing ----------------------------------------------------------


def assign_sequences(
    documents: DataFrame,
    budget_tokens: int = 512,
    n_buckets: int = 4,
    shard_col: str = "lang",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Doc-level sequence assignment shared by the packing plan and the
    packing writer: every document gets (shard, bucket, seq_id) — the
    sequence where it STARTS (docs may straddle boundaries, the standard
    causal-LM packing). ``carry_cols`` rides extra columns (e.g. text)
    through the one window shuffle so the writer never re-joins.

    Scale shape: a single global concatenation order would be one giant
    sort, so packing is sharded — by ``shard_col`` (keep languages
    unmixed, the common policy) crossed with an md5-derived bucket of
    the doc id (``n_buckets`` >> executor count at scale). The
    cumulative-token window sorts WITHIN a shard only; shards are
    embarrassingly parallel. The coin is the same engine-independent
    md5 arithmetic as stratified_sample, so the plan is bit-stable
    across engines, reruns, and partition layouts."""
    n_tok = token_count(F.col("text")).cast("long")
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("pack:"),
                                          F.col("doc_id").cast("string"))), 1, 4),
               16, 10).cast("long") % n_buckets
    ).cast("int")
    rows = documents.select(
        F.col(shard_col).alias("shard"),
        bucket.alias("bucket"),
        F.col("doc_id"),
        n_tok.alias("n_tok"),
        *[F.col(c) for c in carry_cols],
    )
    w = (
        Window.partitionBy("shard", "bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return rows.withColumn(
        "seq_id",
        F.floor(
            (F.sum("n_tok").over(w) - F.col("n_tok")) / budget_tokens
        ).cast("long"),
    )


def sequence_packing(
    documents: DataFrame,
    budget_tokens: int = 512,
    n_buckets: int = 4,
    shard_col: str = "lang",
) -> DataFrame:
    """GPT-style packed-sequence assembly plan: concatenate documents in
    a deterministic order and cut every ``budget_tokens`` tokens; each
    document is assigned to the sequence where it STARTS. This emits
    the assembly PLAN (which docs land in which sequence), the
    shuffle-free metadata half of packing; ``packed_sequences`` /
    ``write_packed_sequences`` are the producing half.

    Output per (shard, bucket, seq_id): n_docs, seq_tokens, first/last
    doc id — the manifest a packing writer consumes. Scale shape: see
    ``assign_sequences`` (one within-shard window, no global sort)."""
    placed = assign_sequences(documents, budget_tokens, n_buckets, shard_col)
    return placed.groupBy("shard", "bucket", "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("seq_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def packed_sequences(
    documents: DataFrame,
    budget_tokens: int = 512,
    n_buckets: int = 4,
    shard_col: str = "lang",
) -> DataFrame:
    """The PRODUCING half of sequence packing: one row per packed
    sequence with the member documents' text concatenated in doc_id
    order (space-joined — the same separator tokens_col splits on, so
    seq_tokens is exactly the token count of the packed text). The
    trainer cuts tensors every ``budget_tokens`` from this stream;
    straddle semantics follow ``assign_sequences``.

    Scale shape: the groupBy's clustering keys extend the window's
    partition keys, so Spark reuses the window shuffle — ONE exchange
    total, carrying text once. The ordered concat is
    array_sort(collect_list(struct(doc_id, text))) inside the
    hash-agg; per-group state is bounded by the token budget (a
    sequence holds ~budget_tokens tokens by construction), never the
    corpus."""
    placed = assign_sequences(
        documents, budget_tokens, n_buckets, shard_col, carry_cols=("text",)
    )
    ordered = F.array_sort(F.collect_list(F.struct("doc_id", "text")))
    return placed.groupBy("shard", "bucket", "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("seq_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.array_join(
            F.transform(ordered, lambda x: x["text"]), " "
        ).alias("text"),
    )


def write_packed_sequences(
    documents: DataFrame,
    out_dir: str,
    budget_tokens: int = 512,
    n_buckets: int = 4,
    shard_col: str = "lang",
    target_file_mb: int = 128,
    avg_token_bytes: int = 6,
) -> None:
    """Materialize packed sequences as a size-targeted parquet layout —
    the writer half the assembly plan promises: one directory per shard
    (``shard=<lang>/``, so a trainer streams one language without
    listing the rest), files capped near ``target_file_mb`` via
    maxRecordsPerFile (records/file derived from the per-sequence byte
    estimate budget_tokens * avg_token_bytes), rows ordered by
    (bucket, seq_id) within each file so a sequential reader sees the
    deterministic packing order.

    Scale shape: inherits packed_sequences' single exchange; the write
    adds zero shuffles (partitionBy redistributes nothing — each task
    writes its own shard subdirs) and sortWithinPartitions is a
    per-partition sort of budget-bounded rows."""
    per_seq_bytes = max(1, budget_tokens * avg_token_bytes)
    rows_per_file = max(1, (target_file_mb * (1 << 20)) // per_seq_bytes)
    (
        packed_sequences(documents, budget_tokens, n_buckets, shard_col)
        .sortWithinPartitions("bucket", "seq_id")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", rows_per_file)
        .partitionBy("shard")
        .parquet(out_dir)
    )


def page_metadata(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """WAT-style page-metadata extraction: (url, title, meta_description,
    charset, n_bytes) straight from raw HTML — the per-page header
    record Common Crawl publishes as WAT and quality pipelines consume
    (title/description presence and length are standard document-level
    quality signals; charset feeds decode policy). Pure column algebra:
    three case-insensitive regexps inside scan codegen, zero shuffles,
    no Python.

    Bounded scope, loudly: attributes are matched in their conventional
    order (``<meta name="description" content="...">``, ``<meta
    charset=...>``, ``http-equiv`` content-type with ``charset=``) —
    attribute-order-insensitive parsing needs a real HTML parser, a
    policy layer the decode kernels own. Missing fields are NULL;
    charset is lowercased; title/description are trimmed.
    """
    h = F.col(html_col).cast("string")
    title = F.trim(
        F.regexp_extract(h, r"(?is)<title[^>]*>([^<]*)</title>", 1)
    )
    desc = F.trim(
        F.regexp_extract(
            h, r'(?i)<meta name="description" content="([^"]*)"', 1
        )
    )
    meta_cs = F.regexp_extract(
        h, r'(?i)<meta charset="?([A-Za-z0-9_\-]+)', 1
    )
    equiv_cs = F.regexp_extract(
        h, r"(?i)charset=([A-Za-z0-9_\-]+)", 1
    )
    charset = F.lower(
        F.when(meta_cs != "", meta_cs)
        .when(equiv_cs != "", equiv_cs)
    )
    nullif = lambda c: F.when(c != "", c)  # noqa: E731 — '' -> NULL
    return pages.select(
        F.col(url_col).alias("url"),
        nullif(title).alias("title"),
        nullif(desc).alias("meta_description"),
        charset.alias("charset"),
        F.octet_length(h).cast("long").alias("n_bytes"),
    )


# -- ExactSubstr span REMOVAL — the producing half of window_dup_stats ----------


def exactsubstr_removal(documents: DataFrame, w: int = 8) -> DataFrame:
    """Remove cross-document duplicated spans from document text — the
    producing half of :func:`window_dup_stats` (which only audits).
    Lee et al. 2022's ExactSubstr pass CUTS every substring that also
    appears in another document; at fixed ``w``-token-window granularity
    the same semantics become shuffle-engine-shaped: a token is removed
    iff some window starting at position ``s`` with ``s <= i < s + w``
    occurs in >= 2 distinct documents.

    Scale shape (two explode passes, both single-consumer):

    - pass 1 aggregates the exploded windows to the duplicated-hash set
      (two hash-aggs; within-doc repeats collapse map-side, so a
      boilerplate window arrives at the reducer as per-mapper counts,
      never a row flood);
    - pass 2 joins the exploded (doc_id, pos, hash) relation to that
      1-row-per-hash set (AQE handles the skewed probe) and aggregates
      dup window STARTS per doc — bounded by the doc's own window
      count, never corpus-wide;
    - the cut itself is row-local column algebra on the original row:
      ``filter(tokens, (t, i) -> !exists(starts, s -> s <= i < s+w))``
      — no second shuffle of the corpus, no Python.

    Unlike the audit, positions must survive to the join, so the
    unique-complement trick that lets window_dup_stats run on ONE
    explode does not apply; the two passes are the honest cost of
    reconstruction. Output: (doc_id, n_tokens, n_removed, clean_text)
    for documents that lost at least one token (a dup window always
    covers >= 1 token, so the inner join IS that filter).

    Reference parity: the reference engine has no sub-document dedup at
    all (its dedup plane is the URL dupefilter, dupefilter.py); this is
    training-data surface the north rule's corpus consumer needs.
    """
    # parallelize the scan-side heavy lifting (explode/trigram/
    # line split) when the input is an unsplittable small parquet;
    # no-op at corpus scale and for well-partitioned inputs
    documents = spread_input(documents)

    wins = documents.select(
        "doc_id",
        F.posexplode(shingles_col(F.col("text"), w)).alias("pos", "win"),
    ).select("doc_id", "pos", F.md5(F.col("win")).alias("win_hash"))
    dup_hashes = (
        wins.groupBy("win_hash", "doc_id")
        .agg(F.lit(1))
        .groupBy("win_hash")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("win_hash")
    )
    starts = (
        wins.join(dup_hashes, "win_hash")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("pos")).alias("starts"))
    )
    toks = F.split(F.col("text"), " ")
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.col("starts"), lambda s: (s <= i) & (i < s + w)
        ),
    )
    return (
        documents.select("doc_id", "text")
        .join(starts, "doc_id")
        .select(
            "doc_id",
            F.size(toks).cast("long").alias("n_tokens"),
            (F.size(toks) - F.size(kept)).cast("long").alias("n_removed"),
            F.array_join(kept, " ").alias("clean_text"),
        )
    )


# -- domain-mixture sampling plan (The Pile / DoReMi shape) ----------------------


def mixture_plan(
    documents: DataFrame, targets: DataFrame, stratum_col: str = "source"
) -> DataFrame:
    """Data-mixture sampling plan: given TARGET shares per stratum
    (domain/language/source weights, the knob The Pile and DoReMi tune),
    compute the largest corpus that preserves the target mixture and the
    per-stratum sampling rate that realizes it.

    ``total_max = min_s(n_s / share_s)`` — the binding stratum is the one
    that runs out first; ``quota_s = least(floor(share_s * total_max),
    n_s)``; ``rate_s = quota_s / n_s``. All double arithmetic is the
    same IEEE expression tree the SQL oracle evaluates, so quotas are
    engine-exact including floor boundaries.

    Inputs: ``documents`` with ``stratum_col``; ``targets``
    (stratum_col, share) with shares summing to 1. Output per stratum:
    (stratum, n_docs, share, total_max, quota, rate).

    Scale shape: ONE hash-agg collapses the corpus to |strata| rows;
    the min() and the join back run on that tiny aggregate (a crossJoin
    against a 1-row relation is a broadcast, not a shuffle). Applying
    the plan is :func:`stratified_sample` with these rates — the
    deterministic md5 coin keeps the drawn sample identical across
    engines and reruns.
    """
    counts = documents.groupBy(stratum_col).agg(F.count("*").alias("n_docs"))
    m = counts.join(targets, stratum_col)
    total_max = m.select(
        F.min(F.col("n_docs") / F.col("share")).alias("total_max")
    )
    quota = F.least(
        F.floor(F.col("share") * F.col("total_max")), F.col("n_docs")
    ).cast("long")
    return (
        m.crossJoin(total_max)
        .select(
            stratum_col,
            "n_docs",
            "share",
            F.round("total_max", 6).alias("total_max"),
            quota.alias("quota"),
            F.round(quota / F.col("n_docs"), 6).alias("rate"),
        )
    )


def shard_plan(
    documents: DataFrame,
    target_bytes: int,
    order_col: str = "doc_id",
    size_col: Column | None = None,
    bucket_width: int = 100_000,
) -> DataFrame:
    """Deterministic byte-budget SHARD ASSIGNMENT for corpus publishing
    (the WET/WARC/packed-sequence writers all shard output; this plans
    WHICH doc lands in WHICH shard so every engine, rerun, and resumed
    job writes identical shards). Docs are laid out in ``order_col``
    order; ``shard = floor(exclusive_running_bytes / target_bytes)`` —
    first-fit by running size, so a shard may overrun by at most one
    document (the WARC convention: never split a record).

    The naive formulation is ``sum() OVER (ORDER BY order_col)`` — a
    GLOBAL window, which Spark executes on a single partition: the
    classic 100 TB scale-killer. This computes the identical prefix sum
    in two phases, the textbook distributed scan:

    1. value-range buckets on ``order_col`` (``floor(order/width)``);
       within-bucket exclusive prefix sum via a window PARTITIONED by
       bucket — parallel across buckets, each partition ~``bucket_width``
       rows;
    2. per-bucket byte totals (one hash-agg to |corpus|/width rows) ->
       exclusive bucket offsets via a window over that TINY relation (the
       only single-partition step, 10^5 rows at 10^10 docs) -> joined
       back on bucket (AQE sizes it; typically a broadcast).

    ``start_byte = bucket_offset + within_bucket_prefix`` is exactly the
    global exclusive prefix sum, independent of physical partitioning.
    Value-range buckets keep the math engine-portable (the oracle replays
    a plain global window); a skewed ``order_col`` distribution only
    unbalances partitions, never changes results — for pathological key
    ranges pick ``bucket_width`` from a sampled quantile sketch the way
    ``repartitionByRange`` does.

    Output per doc: (order_col, n_bytes, start_byte, shard).
    """
    size = size_col if size_col is not None else F.octet_length("text")
    o = F.col(order_col)
    sized = documents.select(
        o.alias(order_col),
        size.cast("long").alias("n_bytes"),
        F.floor(o / F.lit(int(bucket_width))).alias("_bucket"),
    )
    w_in = (
        Window.partitionBy("_bucket")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = sized.withColumn(
        "_prefix", F.coalesce(F.sum("n_bytes").over(w_in), F.lit(0))
    )
    totals = sized.groupBy("_bucket").agg(F.sum("n_bytes").alias("_total"))
    w_b = (
        Window.partitionBy()
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "_bucket",
        F.coalesce(F.sum("_total").over(w_b), F.lit(0)).alias("_offset"),
    )
    start = F.col("_offset") + F.col("_prefix")
    return (
        local.join(offsets, "_bucket")
        .select(
            order_col,
            "n_bytes",
            start.alias("start_byte"),
            F.floor(start / F.lit(int(target_bytes))).alias("shard"),
        )
    )


def bpe_pair_counts(
    documents: DataFrame, top_k: int = 20, text_col: str = "text"
) -> DataFrame:
    """Corpus-wide adjacent-symbol pair frequencies — the statistic the
    FIRST merge step of BPE tokenizer training maximizes (Sennrich et
    al. 2016: count all adjacent symbol pairs over word types weighted
    by word frequency, merge the argmax). Training a tokenizer on the
    corpus an engine just built is a standard step of the training-data
    pipeline; this computes the merge table's input distributively.

    Shape: one hash-agg collapses the corpus to its WORD-TYPE table
    (|vocab| rows — the whole reason BPE counts over types, not tokens),
    adjacent char bigrams explode from each type (pure codegen:
    transform over sequence + substring, no Python), a second hash-agg
    weights them by word frequency, and the top-k rank runs on the tiny
    |distinct pairs| aggregate (bounded by alphabet², never corpus-
    sized). Ties break lexicographically so the merge choice — and any
    tokenizer trained from it — is deterministic across engines.

    Output: (pair, n, rank) for the top_k pairs.
    """
    words = (
        documents.select(
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("word")
        )
        .filter(F.char_length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(sequence(1, char_length(word) - 1), "
                "i -> substring(word, i, 2))"
            )
        ).alias("pair"),
        "freq",
    )
    counts = pairs.groupBy("pair").agg(F.sum("freq").alias("n"))
    w = Window.partitionBy().orderBy(F.desc("n"), F.asc("pair"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("pair", "n", F.col("rank").cast("int").alias("rank"))
    )


def bigram_lm_perplexity(
    documents: DataFrame,
    add_k: float = 0.5,
    n_buckets: int = 3,
    text_col: str = "text",
    lang_col: str | None = "lang",
) -> DataFrame:
    """CCNet-style perplexity quality filter (Wenzek et al. 2020: score
    every document with a language model, split each language into
    head/middle/tail perplexity buckets, keep the head) — with an HONEST
    in-engine model: an add-k-smoothed bigram LM trained on the corpus
    itself, entirely in declarative algebra. The :class:`TextScorer`
    seam still takes a real KenLM when one is available; this is the
    self-contained path that needs no external artifact and is
    oracle-exact.

    Model: ``p(w2|w1) = (c(w1 w2) + k) / (c(w1·) + k·V)`` with c(w1·)
    the count of w1 as a bigram HISTORY and V the corpus vocabulary;
    ``ppl = exp(-mean log p)`` over the doc's bigrams. Cross-engine
    float determinism: each bigram's log-prob is rounded to integer
    MICRO-NATS (``round(ln(p)·1e6)`` as long) before the per-doc sum —
    integer sums are associative, so the distributed aggregation order
    cannot change the result, then one exp/round at the end. Docs with
    fewer than 2 tokens have no bigrams and drop out (score them with
    :func:`quality_score` instead).

    Scale shape: training is two hash-aggs to |bigram vocab| and
    |vocab| rows; scoring joins the doc-bigram relation to those count
    tables on word keys (equi-joins; stopword heads are the classic
    skew — AQE skew-join splits them) and partial-aggregates per doc.
    The bucket split is ntile PARTITIONED BY LANGUAGE over per-doc
    scores — fine while each language's doc count fits a window
    partition (10^8-ish); beyond that, cut buckets by thresholds from
    approx_percentile and assign by comparison, keeping this exact
    ntile as the calibration path (the q14b/q14c division of labor).

    Output: (doc_id[, lang], n_bigrams, ppl, bucket) — bucket 1 = head
    (most fluent) ... n_buckets = tail.
    """
    cols = ["doc_id"] + ([lang_col] if lang_col else [])
    # NOT spread (measured A/B): three consumers re-pay the repartition
    # shuffle each (t58 1.2->2.0 measured); see _hashed_bigram_buckets.
    toks = documents.select(
        *cols,
        F.expr(f"filter(split(lower({text_col}), ' '), w -> w != '')").alias(
            "ts"
        ),
    ).filter(F.size("ts") >= 2)
    bg = toks.select(
        *cols,
        F.explode(
            F.expr(
                "transform(sequence(1, size(ts) - 1), i -> "
                "struct(element_at(ts, i) AS w1, element_at(ts, i + 1) AS w2))"
            )
        ).alias("b"),
    ).select(*cols, F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = toks.select(F.explode("ts").alias("w")).agg(
        F.countDistinct("w").alias("v")
    )
    k = F.lit(float(add_k))
    lp_micro = F.round(
        F.log((F.col("c2") + k) / (F.col("c1") + k * F.col("v"))) * F.lit(1e6),
        0,
    ).cast("long")
    per_doc = (
        bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(vocab)
        .withColumn("_lp", lp_micro)
        .groupBy(*cols)
        .agg(F.sum("_lp").alias("_s"), F.count("*").alias("n_bigrams"))
    )
    ppl = F.round(
        F.exp(-F.col("_s").cast("double") / (F.col("n_bigrams") * F.lit(1e6))),
        4,
    )
    scored = per_doc.select(*cols, "n_bigrams", ppl.alias("ppl"))
    w = Window.partitionBy(*( [lang_col] if lang_col else [] )).orderBy(
        F.asc("ppl"), F.asc("doc_id")
    )
    return scored.withColumn(
        "bucket", F.ntile(int(n_buckets)).over(w).cast("int")
    )

# -- DSIR hashed-ngram importance weights --------------------------------------


def _hashed_bigram_buckets(
    df: DataFrame,
    n_buckets: int,
    text_col: str,
    id_cols: list[str],
    salt: str,
) -> DataFrame:
    """(id_cols..., bucket) — one row per word-bigram occurrence, hashed
    into a fixed-size feature space via the engine-portable md5 coin
    (same trick as stratified_sample / sequence packing): bucket =
    conv(md5('salt:w1 w2')[0:8], 16, 10) % n_buckets. Docs with < 2
    tokens have no bigrams and drop out."""
    # NOT spread (measured A/B): the bigram relation is consumed by MULTIPLE
    # aggregates in every caller, so a round-robin repartition re-pays
    # its shuffle per consumer and lost at sf0.1 (t59 1.3->1.4, t61
    # 1.5->2.5). spread_input stays for single-consumer heavy explodes.
    toks = df.select(
        *id_cols,
        F.expr(
            f"filter(split(lower({text_col}), ' '), w -> w != '')"
        ).alias("ts"),
    ).filter(F.size("ts") >= 2)
    bg = toks.select(
        *id_cols,
        F.explode(
            F.expr(
                "transform(sequence(1, size(ts) - 1), i -> "
                "concat(element_at(ts, i), ' ', element_at(ts, i + 1)))"
            )
        ).alias("feat"),
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt + ":"), F.col("feat"))), 1, 8),
            16,
            10,
        ).cast("long")
        % F.lit(int(n_buckets))
    )
    return bg.select(*id_cols, bucket.alias("bucket"))


def dsir_importance_weights(
    raw: DataFrame,
    target: DataFrame,
    n_buckets: int = 4096,
    add_k: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "dsir",
) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling"): score every raw-corpus document
    with the log importance weight of a hashed-bigram bag-of-ngrams
    model — log w(x) = Σ_f [ln p_target(h(f)) − ln p_raw(h(f))] over the
    doc's bigram features f, where both distributions are add-k-smoothed
    unigram models over the SAME fixed hashed feature space. Documents
    that look like the target domain (e.g. Wikipedia/books) score high;
    resampling by these weights is how DSIR assembles a
    target-distributed corpus from a raw crawl.

    Scale shape — the whole point of DSIR's hashing trick carries over
    to the distributed plan: both "models" are hash-aggs bounded at
    n_buckets rows REGARDLESS of corpus size (a constant, not
    corpus-derived — so the ≤B-row ratio table is safely broadcast-able
    by AQE, unlike a corpus-derived set). Scoring is one equi-join of
    the doc-bucket relation against that tiny ratio table plus one
    per-doc partial aggregation. No windows over raw docs, no Python.

    Cross-engine exactness: each bucket's log-ratio is rounded to
    integer MICRO-NATS (round((ln p_t − ln p_r)·1e6) as long) before
    the per-doc sum — integer sums are associative, so distributed
    aggregation order cannot flip a bit (the t58 trick). The md5 coin
    makes the feature hash itself engine-portable.

    Output: (id_col, n_feats, log_w_micro) — log_w_micro is the summed
    integer micro-nats log weight; divide by 1e6 for nats. Docs with
    fewer than 2 tokens drop out (no features).

    Reference framing: the reference pipeline has no data-selection
    stage; this extends the corpus plane the way SURVEY §2's
    training-data section prescribes.
    """
    b = int(n_buckets)
    k = F.lit(float(add_k))
    rawb = _hashed_bigram_buckets(raw, b, text_col, [id_col], salt)
    tgtb = _hashed_bigram_buckets(target, b, text_col, [], salt)
    rc = rawb.groupBy("bucket").agg(F.count("*").alias("c_r"))
    tc = tgtb.groupBy("bucket").agg(F.count("*").alias("c_t"))
    n_r = rc.agg(F.sum("c_r").alias("n_r"))
    n_t = tc.agg(F.coalesce(F.sum("c_t"), F.lit(0)).alias("n_t"))
    ratio = (
        rc.join(tc, "bucket", "left")
        .withColumn("c_t", F.coalesce(F.col("c_t"), F.lit(0)))
        .crossJoin(n_r)
        .crossJoin(n_t)
        .select(
            "bucket",
            F.round(
                (
                    F.log((F.col("c_t") + k) / (F.col("n_t") + k * F.lit(b)))
                    - F.log((F.col("c_r") + k) / (F.col("n_r") + k * F.lit(b)))
                )
                * F.lit(1e6),
                0,
            )
            .cast("long")
            .alias("lr_micro"),
        )
    )
    return (
        rawb.join(ratio, "bucket")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_feats"),
            F.sum("lr_micro").alias("log_w_micro"),
        )
    )


def dsir_gumbel_topk(
    weights: DataFrame,
    k: int,
    temperature: float = 1.0,
    salt: str = "gumbel",
    id_col: str = "doc_id",
    weight_col: str = "log_w_micro",
) -> DataFrame:
    """The RESAMPLING half of DSIR (Xie et al. 2023 §2.3): draw k
    documents without replacement with probability ∝ exp(log w / T)
    via the Gumbel-top-k trick — key = log w + T·g with g ~ Gumbel(0,1),
    take the k largest keys. One pass, no sequential sampling loop, so
    the draw shards like any top-k.

    Determinism: g is derived from the engine-portable md5 coin
    (g = −ln(−ln(u)), u = (conv(md5(salt:id)[0:4]) + 1)/65537 ∈ (0,1),
    the stratified_sample trick with a +1 shift so u is never 0), and
    the selection key is kept in integer MICRO-NATS
    (log_w_micro + round(T·g·1e6)) — selection compares longs, so
    cross-engine libm ulp differences cannot flip the cut line the way
    they could on raw doubles. Ties break id-ascending. Reruns, resumes
    and other engines draw the IDENTICAL sample.

    Scale: orderBy(...).limit(k) compiles to TakeOrdered — per-partition
    partial top-k then a k-row driver merge; never a global sort or a
    row_number window over the corpus.

    Input: the (id, log_w_micro) relation from
    :func:`dsir_importance_weights`. Output: the k selected rows with
    their keys (id_col, weight_col, key_micro).
    """
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(salt + ":"), F.col(id_col).cast("string")
                    )
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(65537.0)
    g = -F.log(-F.log(u))
    key = (
        F.col(weight_col)
        + F.round(F.lit(float(temperature)) * g * F.lit(1e6), 0).cast("long")
    ).alias("key_micro")
    return (
        weights.select(id_col, weight_col, key)
        .orderBy(F.desc("key_micro"), F.asc(id_col))
        .limit(int(k))
    )


def quality_threshold_sweep(
    documents: DataFrame,
    thresholds: list[float],
    text_col: str = "text",
) -> DataFrame:
    """Filter-ablation card (the DCLM/FineWeb 'pick the cutoff' sweep):
    for each candidate quality threshold, how many documents and tokens
    survive `quality >= t`, absolutely and as corpus shares. This is the
    measurement that SETS the quality cutoff a production filter then
    applies — run once per candidate grid instead of once per candidate
    filter job.

    Scale shape (the t21 bounded-histogram trick): quality_score is
    rounded to 4 decimals, so the (score, n_docs, n_tokens) histogram is
    bounded at ~10^4 rows regardless of corpus size; ONE hash-agg builds
    it, and the sweep is a tiny histogram × grid cross join + one more
    hash-agg — never one corpus pass per threshold. Shares are rounded
    to 6 dp on both engines so summation order can't flip the hash.

    Output: (threshold, n_docs, n_tokens, doc_share, token_share), one
    row per threshold, including thresholds that keep nothing.
    """
    spark = documents.sparkSession
    hist = (
        documents.select(
            quality_score(F.col(text_col)).alias("q"),
            token_count(F.col(text_col)).cast("long").alias("toks"),
        )
        .groupBy("q")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum("toks").alias("tok"),
        )
    )
    totals = hist.agg(
        F.sum("cnt").alias("_td"), F.sum("tok").alias("_tt")
    )
    grid = spark.createDataFrame(
        [(float(t),) for t in thresholds], "threshold double"
    )
    return (
        grid.join(hist, hist.q >= grid.threshold, "left")
        .groupBy("threshold")
        .agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("tok"), F.lit(0)).cast("long").alias("n_tokens"),
        )
        .crossJoin(totals)
        .select(
            "threshold",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_docs").cast("double") / F.col("_td"), 6).alias(
                "doc_share"
            ),
            F.round(F.col("n_tokens").cast("double") / F.col("_tt"), 6).alias(
                "token_share"
            ),
        )
    )


def vocab_coverage(
    documents: DataFrame,
    ks: list[int],
    text_col: str = "text",
) -> DataFrame:
    """Zipf coverage curve — what fraction of all corpus tokens the
    top-k most frequent terms cover, for each candidate vocabulary size
    k. The tokenizer-sizing measurement (how big must the vocab be to
    cover 95/99% of tokens) and the complement of t56's BPE pair
    counts: t56 ranks candidate merges, this sizes the vocabulary.

    Scale shape: the corpus collapses to the |vocab| (term, count)
    aggregate in one hash-agg (within-doc repeats combine map-side).
    Only the top max(ks) terms can ever matter, and ks is config-tiny
    (vocab sizes of interest), so the candidate set is cut with
    orderBy + limit — Spark's TakeOrderedAndProject, a per-partition
    partial top-k + bounded merge, never a global sort — and the rank/
    cumulative windows then run over those ≤ max(ks) rows. A web-scale
    |vocab| (10^8 terms) never passes through a single-partition
    window. Coverage at k = the cumulative count at rank min(k, |vocab|)
    via a grid×candidates range join + max().

    Determinism: rank ties break term-ascending; coverage rounded 6 dp.
    Output: (k, n_terms, covered_tokens, coverage).
    """
    spark = documents.sparkSession
    vocab = (
        documents.select(
            F.explode(
                F.expr(f"filter(split(lower({text_col}), ' '), w -> w != '')")
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    top = vocab.orderBy(F.desc("cnt"), F.asc("term")).limit(
        int(max(ks))
    )
    w_rank = Window.partitionBy(F.lit(1)).orderBy(
        F.desc("cnt"), F.asc("term")
    )
    ranked = top.select(
        "cnt", "term", F.row_number().over(w_rank).alias("rnk")
    ).withColumn(
        "cum",
        F.sum("cnt").over(
            Window.partitionBy(F.lit(1))
            .orderBy("rnk")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    totals = vocab.agg(F.sum("cnt").alias("_tt"))
    grid = spark.createDataFrame([(int(k),) for k in ks], "k int")
    return (
        grid.join(ranked, ranked.rnk <= grid.k, "left")
        .groupBy("k")
        .agg(
            F.coalesce(F.max("rnk"), F.lit(0)).cast("long").alias("n_terms"),
            F.coalesce(F.max("cum"), F.lit(0)).cast("long").alias(
                "covered_tokens"
            ),
        )
        .crossJoin(totals)
        .select(
            "k",
            "n_terms",
            "covered_tokens",
            F.round(
                F.col("covered_tokens").cast("double") / F.col("_tt"), 6
            ).alias("coverage"),
        )
    )


def source_mirror_matrix(
    documents: DataFrame,
    stratum_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """WHO mirrors WHOM: for every pair of sources/domains, the number
    of exact-duplicate fingerprints shared between them — the
    mirror-detection matrix that turns t03's corpus-wide duplicate rate
    (and t35's per-domain rate) into actionable structure (cut the
    mirror, keep the origin; Common Crawl's aggressive-dedup reports
    have exactly this shape).

    Scale shape: distinct (fingerprint, source) is one hash-agg
    (within-source copies collapse map-side); the per-fingerprint
    source-set is a second hash-agg whose payload is bounded by
    |sources| regardless of how many documents share the fingerprint;
    pairs come out of the sorted set with in-row array combinatorics
    (the t04 posting trick — bounded at |sources|²/2 per fingerprint,
    never a row explosion); the final count is a third hash-agg on
    ≤ |sources|² rows. No self-join of the corpus (the oracle IS the
    naive fp self-join, proving equivalence).

    Output: (source_a, source_b, n_shared) with source_a < source_b,
    only pairs sharing ≥ 1 fingerprint.
    """
    fps = documents.select(
        F.col(stratum_col).alias("s"),
        doc_fingerprint(F.col(text_col)).alias("fp"),
    ).distinct()
    sets = (
        fps.groupBy("fp")
        .agg(F.sort_array(F.collect_set("s")).alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    pairs = sets.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, size(ss) - 1), i -> "
                "transform(sequence(i + 1, size(ss)), j -> "
                "struct(element_at(ss, i) AS a, element_at(ss, j) AS b))))"
            )
        ).alias("p")
    )
    return (
        pairs.select(
            F.col("p.a").alias("source_a"), F.col("p.b").alias("source_b")
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )


def line_quality_filter(
    documents: DataFrame,
    min_words: int = 3,
    require_terminal_punct: bool = False,
    drop_list_markers: bool = True,
    text_col: str = "text",
    line_sep: str = "\n",
) -> DataFrame:
    """RefinedWeb-style LINE-WISE correction (Penedo et al. 2023 §3.3):
    strip navigation/boilerplate lines from each document — too-short
    lines, list-marker lines ("- ...", "* ...", numbered bullets),
    optionally lines without terminal punctuation — and reconstruct the
    text from the survivors. The per-doc complement of t19's GLOBAL
    line dedup: t19 cuts lines repeated across documents, this cuts
    lines that are structurally junk on their own.

    Scale shape: entirely IN-ROW — split, higher-order filter, rejoin
    (filter(lines, ...) + array_join) in whole-stage codegen. ZERO
    shuffles, zero Python, no explode: the corpus is never even
    re-keyed, so the operator composes for free anywhere in a pipeline.

    Output: all input columns with text_col rewritten, plus
    n_lines_in / n_lines_kept audit columns. Documents whose every line
    is junk end up with empty text (filter downstream, as RefinedWeb
    does).
    """
    conds = [f"size(split(trim(l), ' +')) >= {int(min_words)}"]
    if drop_list_markers:
        conds.append(r"NOT (trim(l) rlike '^([-*•]|[0-9]+[.)])\\s')")
    if require_terminal_punct:
        conds.append(r"trim(l) rlike '[.!?]$'")
    pred = " AND ".join(conds)
    sep = line_sep.replace("\\", "\\\\").replace("\n", "\\n").replace(
        "\t", "\\t"
    )
    lines = f"split({text_col}, '{sep}')"
    kept = f"filter({lines}, l -> {pred})"
    return documents.withColumn(
        "n_lines_in", F.expr(f"size({lines})").cast("int")
    ).withColumn(
        "n_lines_kept", F.expr(f"size({kept})").cast("int")
    ).withColumn(text_col, F.expr(f"array_join({kept}, '{sep}')"))


def doc_keywords(
    documents: DataFrame,
    top_k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document TF-IDF keywords — the feature-extraction op behind
    tagging/routing/clustering stages of a corpus pipeline (and the
    per-doc application of t24's corpus-level DF vocabulary): for each
    document, the top_k terms by tf·idf.

    Scale shape: (doc, term) term frequencies are one hash-agg
    (within-doc repeats combine map-side); document frequency is the
    t24 trick — array_distinct BEFORE the explode, so within-doc dedup
    happens in-row and the DF agg shuffles |distinct (doc, term)| at
    most; the scoring join hits the ≤|vocab|-row idf table (AQE
    broadcast); the rank window partitions BY DOCUMENT — bounded by a
    doc's distinct terms, never a corpus-wide partition.

    Determinism: idf is rounded to integer MICRO-NATS and the score is
    tf · idf_micro — a pure INTEGER, so ranking can't be flipped by
    libm ulps; ties break term-ascending.

    Output: (id_col, term, tf, score_micro, rank), rank 1..top_k.
    """
    toks = documents.select(
        id_col,
        F.expr(f"filter(split(lower({text_col}), ' '), w -> w != '')").alias(
            "ts"
        ),
    )
    tf = (
        toks.select(id_col, F.explode("ts").alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    df_t = (
        toks.select(id_col, F.explode(F.array_distinct("ts")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("df"))
    )
    n_docs = documents.agg(F.count("*").alias("n"))
    idf = df_t.crossJoin(n_docs).select(
        "term",
        F.round(
            F.log(F.col("n").cast("double") / F.col("df")) * F.lit(1e6), 0
        )
        .cast("long")
        .alias("idf_micro"),
    )
    scored = tf.join(idf, "term").withColumn(
        "score_micro", F.col("tf") * F.col("idf_micro")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score_micro"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= int(top_k))
        .select(id_col, "term", "tf", "score_micro", "rank")
    )


def nb_lang_id(
    documents: DataFrame,
    add_k: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "lang",
    train: DataFrame | None = None,
) -> DataFrame:
    """Character-trigram multinomial Naive Bayes language classifier,
    TRAINED IN-ENGINE on the corpus's own labels and applied back to
    every document — the honest self-contained model for the lang-ID
    slot (the heuristic `lang_id` stays the zero-shuffle default; the
    `TextScorer` seam still takes a real fastText; THIS is the path
    that needs no external artifact yet is a real trained classifier,
    the t58 pattern applied to language identification).

    Model: p(t|l) = (c(l,t)+k)/(N_l+k·V) over char-trigram occurrences,
    prior p(l) = docs_l/docs. predicted = argmax_l [ln p(l) +
    Σ_t ln p(t|l)]. Every log is rounded to integer MICRO-NATS before
    any sum (scores are pure longs end to end — distributed agg order
    and libm ulps cannot flip an argmax); unseen (l,t) pairs contribute
    the lang's smoothing floor via coalesce onto the same join, no
    second pass. Ties break language-ascending.

    Scale shape: the model is hash-aggs bounded by |langs|·|trigram
    vocab| (a few 10^5 rows for real charsets — broadcast-able by
    construction); per-doc trigram counts partial-aggregate map-side;
    scoring is the (doc, trig) relation × |langs| joined against the
    bounded model table; argmax is one min(struct) hash-agg. No windows
    over raw docs, no Python.

    Docs with fewer than 3 characters have no trigrams and drop out.
    ``train`` (default: documents itself — self-train mode) supplies
    the labeled relation the model is ESTIMATED from; pass a split's
    train half to score held-out docs with an honestly-fitted model
    (t70 composes this with the md5 split coin).
    Output: (id_col, label_col, predicted, score_micro).
    """
    # parallelize the scan-side heavy lifting (explode/trigram/
    # line split) when the input is an unsplittable small parquet;
    # no-op at corpus scale and for well-partitioned inputs
    documents = spread_input(documents)

    k = float(add_k)

    def _base(df: DataFrame) -> DataFrame:
        return df.select(
            id_col, label_col, F.lower(F.col(text_col)).alias("_t")
        ).filter(F.length("_t") >= 3)

    def _trigs(df: DataFrame) -> DataFrame:
        return df.select(
            id_col,
            label_col,
            F.explode(
                F.expr(
                    "transform(sequence(1, length(_t) - 2), i -> "
                    "substring(_t, i, 3))"
                )
            ).alias("trig"),
        )

    base = _base(documents)
    trigs = _trigs(base)
    tb = base if train is None else _base(train)
    mtrigs = trigs if train is None else _trigs(tb)
    ct = mtrigs.groupBy(label_col, "trig").agg(
        F.count("*").cast("long").alias("c")
    )
    # the (lang, trigram) count table feeds THREE consumers (n_l,
    # vocab, the smoothed log-prob table) — without materialization each
    # re-runs the corpus trigram explode+aggregate. Bounded by
    # |langs|x|vocab|; checkpointed so blocks release with the result.
    spark = documents.sparkSession
    ct = (
        ct.checkpoint(eager=True)
        if spark.sparkContext.getCheckpointDir() is not None
        else ct.localCheckpoint(eager=True)
    )
    nl = ct.groupBy(label_col).agg(F.sum("c").alias("n_l"))
    vocab = ct.agg(F.countDistinct("trig").alias("v"))
    lp = (
        ct.join(nl, label_col)
        .crossJoin(vocab)
        .select(
            F.col(label_col).alias("cand"),
            "trig",
            F.round(
                F.log((F.col("c") + F.lit(k)) / (F.col("n_l") + F.lit(k) * F.col("v")))
                * F.lit(1e6),
                0,
            )
            .cast("long")
            .alias("lp_micro"),
        )
    )
    lp0 = (
        nl.crossJoin(vocab)
        .select(
            F.col(label_col).alias("cand"),
            F.round(
                F.log(F.lit(k) / (F.col("n_l") + F.lit(k) * F.col("v")))
                * F.lit(1e6),
                0,
            )
            .cast("long")
            .alias("lp0_micro"),
        )
    )
    n_docs = tb.agg(F.count("*").alias("nd"))
    prior = (
        tb.groupBy(label_col)
        .agg(F.count("*").alias("dl"))
        .crossJoin(n_docs)
        .select(
            F.col(label_col).alias("cand"),
            F.round(
                F.log(F.col("dl").cast("double") / F.col("nd")) * F.lit(1e6),
                0,
            )
            .cast("long")
            .alias("prior_micro"),
        )
    )
    dt = trigs.groupBy(id_col, label_col, "trig").agg(
        F.count("*").cast("long").alias("tf")
    )
    langs = prior.select("cand", "prior_micro")
    scored = (
        dt.crossJoin(langs)
        .join(lp, ["cand", "trig"], "left")
        .join(lp0, "cand")
        .groupBy(id_col, label_col, "cand", "prior_micro")
        .agg(
            F.sum(
                F.col("tf") * F.coalesce("lp_micro", "lp0_micro")
            ).alias("_body")
        )
        .select(
            id_col,
            label_col,
            "cand",
            (F.col("prior_micro") + F.col("_body")).alias("score"),
        )
    )
    return (
        scored.groupBy(id_col, label_col)
        .agg(F.min(F.struct((-F.col("score")).alias("ns"), "cand")).alias("w"))
        .select(
            id_col,
            label_col,
            F.col("w.cand").alias("predicted"),
            (-F.col("w.ns")).alias("score_micro"),
        )
    )


SOFT404_MARKERS = (
    "page not found",
    "404 not found",
    "error 404",
    "does not exist",
    "no longer available",
)


def soft404_stats(
    pages: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    markers: tuple = SOFT404_MARKERS,
    short_frac: float = 0.5,
) -> DataFrame:
    """Soft-404 detection: error pages served with HTTP 200 — the
    corpus pollution a status-code filter cannot see (every large crawl
    probes for them; Bar-Yossef et al. 2004, "Sic transit gloria telae").
    The reference trusts status codes alone (its spiders drop non-200 in
    Scrapy middleware); at corpus scale the content signal is a
    declarative pass.

    A page is flagged when BOTH hold: (a) its lowercased text matches a
    not-found marker phrase, and (b) it is short for its host — token
    count below ``short_frac`` x the host's mean (error templates are
    uniform and thin; host-relative beats a global cutoff because sites
    differ 100x in typical page size).

    Scale shape: the marker test and token count are scan-codegen column
    algebra (one rlike over an alternation, no Python); the host mean is
    one partial-aggregatable hash-agg to |hosts| rows joined back —
    O(corpus) with an aggregate-sided build, never corpus². Output one
    row per page: (url, host, n_tokens, host_mean_tokens, marker_hit,
    is_soft404); host_mean_tokens rounds to 6dp for oracle exactness.
    """
    from .urlfilter import host_col

    import re as _re

    pat = "|".join(_re.escape(m) for m in markers)
    t = F.col(text_col)
    base = pages.select(
        F.col(url_col).alias("url"),
        host_col(F.col(url_col)).alias("host"),
        token_count(t).cast("long").alias("n_tokens"),
        F.lower(t).rlike(pat).alias("marker_hit"),
    )
    means = base.groupBy("host").agg(
        F.avg(F.col("n_tokens").cast("double")).alias("_mean")
    )
    return (
        base.join(means, "host")
        .select(
            "url",
            "host",
            "n_tokens",
            F.round(F.col("_mean"), 6).alias("host_mean_tokens"),
            "marker_hit",
            (
                F.col("marker_hit")
                & (
                    F.col("n_tokens").cast("double")
                    < F.lit(float(short_frac)) * F.col("_mean")
                )
            ).alias("is_soft404"),
        )
    )


def collapse_repeated_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Adjacent-duplicate line collapse WITHIN each document — the
    in-row cleanup for machine-generated web text (terminal dumps, chat
    transcripts, scraper echo, nav menus repeated by templating bugs)
    where the same line repeats back-to-back. Distinct from
    :func:`line_dedup_corpus` (cross-document global line dedup): this
    keeps one copy of each CONSECUTIVE run inside one document and never
    touches cross-document or non-adjacent repeats (a chorus that
    returns later in the page survives — collapsing those is a semantic
    judgment, not cleanup).

    Scale shape: zero shuffles — split, index-aware higher-order filter
    (keep line i when i == 0 or it differs from line i-1, both in-row
    array ops), rejoin, all inside scan codegen. No Python, no explode:
    the corpus never leaves its input partitioning.

    Output: (id, text collapsed, n_lines original, n_kept).
    """
    lines = F.split(F.col(text_col), "\n")
    kept = F.expr(
        f"filter(split({text_col}, '\\n'), "
        "(x, i) -> i = 0 OR x <> element_at(split("
        f"{text_col}, '\\n'), i))"
    )
    return docs.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("text"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
    )


def encoding_audit(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encoding-artifact audit: per-document counts of the classic
    decode-failure markers — UTF-8-read-as-Latin-1 mojibake lead bytes
    ('Ã', 'â€' sequences), U+FFFD replacement characters (the decoder
    already gave up upstream), and C0 control characters that have no
    business in text (everything below space except tab/newline/CR).
    CCNet/RefinedWeb-class pipelines drop or re-decode these documents
    before they poison tokenizer training; the reference never looks at
    encoding (Scrapy hands it decoded strings).

    Scale shape: stateless projection — three regexp_counts inside scan
    codegen, zero shuffles, no Python. ``suspect`` is the drop verdict:
    any replacement char, any control char, or >= ``mojibake_min``
    mojibake markers (single 'Ã' can be legitimate text — 'Ã' IS a real
    letter — so one marker alone does not condemn a document).
    """
    t = F.col(text_col)
    moji = F.regexp_count(t, F.lit("Ã.|â€")).cast("long")
    repl = F.regexp_count(t, F.lit("�")).cast("long")
    ctrl = F.regexp_count(
        t, F.lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")
    ).cast("long")
    return docs.select(
        F.col(id_col),
        moji.alias("n_mojibake"),
        repl.alias("n_replacement"),
        ctrl.alias("n_ctrl"),
        ((repl > 0) | (ctrl > 0) | (moji >= 3)).alias("suspect"),
    )


def pmi_collocations(
    documents: DataFrame,
    min_count: int = 5,
    top_k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """PMI-ranked collocations (Church & Hanks 1990): the adjacent word
    pairs whose joint frequency most exceeds chance —
    ``pmi = ln( (c12/Nb) / ((c1/Nu)·(c2/Nu)) )`` with unigram counts
    c over the token stream (Nu tokens) and bigram counts c12 over
    adjacent pairs (Nb bigrams). The phrase-mining statistic tokenizer
    and quality pipelines compute corpus-wide (multi-word entities,
    boilerplate phrases); the reference has no corpus statistics plane.

    Cross-engine determinism: the PMI is computed with an IDENTICAL
    IEEE expression tree on Spark and the SQL oracle (divisions in the
    same order over exact integer inputs), then rounded to integer
    MICRO-NATS (``round(pmi·1e6)`` as long) — ranking compares longs,
    ties break lexicographically on (w1, w2).

    Scale shape: two partial-aggregatable hash-aggs (shuffles carry
    |vocab| and |bigram vocab|, never the corpus), two equi-joins of
    the bigram aggregate to the unigram aggregate (stopword heads are
    the classic skew; AQE splits them), totals as 1-row aggregates
    cross-joined. The global top-k is a TakeOrdered pre-cut at
    ``top_k`` candidates before the single-partition rank window (the
    t64 trick) — never a global sort of the bigram vocabulary.
    ``min_count`` drops hapax pairs before the join (PMI's classic
    low-count pathology). Output: (w1, w2, c12, pmi_micro, rank).
    """
    toks = documents.select(
        F.expr(f"filter(split(lower({text_col}), ' '), w -> w != '')").alias(
            "ts"
        )
    )
    uni = toks.select(F.explode("ts").alias("w")).groupBy("w").agg(
        F.count("*").cast("long").alias("c")
    )
    bg = (
        toks.filter(F.size("ts") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ts) - 1), i -> "
                    "struct(element_at(ts, i) AS w1, "
                    "element_at(ts, i + 1) AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c12"))
    )
    nu = uni.agg(F.sum("c").alias("nu"))
    # Nb is the TOTAL bigram count — computed before the min_count cut,
    # or p(w1,w2) would be conditioned on surviving pairs only
    nb = bg.agg(F.sum("c12").alias("nb"))
    bg = bg.filter(F.col("c12") >= int(min_count))
    c1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    c2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    scored = (
        bg.join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(nu)
        .crossJoin(nb)
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                F.log(
                    (F.col("c12").cast("double") / F.col("nb"))
                    / (
                        (F.col("c1").cast("double") / F.col("nu"))
                        * (F.col("c2").cast("double") / F.col("nu"))
                    )
                )
                * F.lit(1e6)
            )
            .cast("long")
            .alias("pmi_micro"),
        )
    )
    cut = scored.orderBy(
        F.desc("pmi_micro"), F.asc("w1"), F.asc("w2")
    ).limit(int(top_k))
    w = Window.partitionBy().orderBy(F.desc("pmi_micro"), F.asc("w1"), F.asc("w2"))
    return cut.withColumn("rank", F.row_number().over(w).cast("int"))


def char_entropy(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document character-level Shannon entropy — the cheap junk
    detector quality pipelines run before tokenization: random/encrypted
    blobs sit near the alphabet's max entropy, single-character spam and
    padding near zero, natural language in a stable band (Gopher's
    symbol-ratio rules are a coarser cut of the same signal). The
    reference never inspects content statistics.

    Cross-engine determinism (the t58 integer trick): each character's
    term ``-p·ln(p)`` (p = c/n) is rounded to integer MICRO-NATS before
    the per-doc sum — long sums are associative, so shard order cannot
    flip a bit; one divide/round at the end. Docs with empty text have
    no characters and drop out.

    Scale shape: one explode to (doc, char) — the same cost class as
    every token explode in this module — then two partial-aggregatable
    hash-aggs ((doc_id, char) counts collapse map-side; per-doc sum
    partial-aggregates). No windows, no Python. Output:
    (doc_id, n_chars, entropy_micro, entropy).
    """
    ch = documents.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.expr(f"regexp_extract_all({text_col}, '(?s:.)', 0)")
        ).alias("ch"),
    )
    counts = ch.groupBy("doc_id", "ch").agg(
        F.count("*").cast("long").alias("c")
    )
    n = counts.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    terms = counts.join(n, "doc_id").select(
        "doc_id",
        "n",
        F.round((F.lit(0.0) - p) * F.log(p) * F.lit(1e6))
        .cast("long")
        .alias("t"),
    )
    return (
        terms.groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("n_chars"),
            F.sum("t").cast("long").alias("entropy_micro"),
        )
        .select(
            "doc_id",
            "n_chars",
            "entropy_micro",
            F.round(
                F.col("entropy_micro").cast("double") / F.lit(1e6), 6
            ).alias("entropy"),
        )
    )


def meta_robots(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Per-page indexing directives from raw HTML: ``<meta
    name="robots">`` noindex/nofollow flags plus canonical-tag
    presence — the page-level crawl-control signals robots.txt cannot
    express (robots.txt gates FETCHING; meta robots gates what the
    fetched page contributes: a nofollow page must not emit its links
    into the frontier, a noindex page is fetch-and-discard for a
    corpus). The reference's spiders parse content fields only and
    ignore both directives.

    Both attribute orders extract via two regexp_extracts each inside
    scan codegen (the canonical_links double-quoted-attribute
    simplification, same contract); flags are substring tests on the
    lowercased content value. Zero shuffles, zero Python — a
    stateless projection safe to fuse into any corpus scan. Output:
    (url, robots_content, noindex, nofollow, has_canonical);
    robots_content is NULL when no robots meta tag exists (flags then
    false).
    """
    h = F.col("_h")
    name_first = F.regexp_extract(
        h, r'(?i)<meta[^>]*name="robots"[^>]*content="([^"]*)"', 1
    )
    content_first = F.regexp_extract(
        h, r'(?i)<meta[^>]*content="([^"]*)"[^>]*name="robots"', 1
    )
    content = F.nullif(
        F.coalesce(F.nullif(name_first, F.lit("")),
                   F.nullif(content_first, F.lit(""))),
        F.lit(""),
    )
    canon = (
        h.rlike(r'(?i)<link[^>]*rel="canonical"[^>]*href="[^"]+"')
        | h.rlike(r'(?i)<link[^>]*href="[^"]+"[^>]*rel="canonical"')
    )
    low = F.lower(F.col("robots_content"))
    return (
        pages.select(
            F.col(url_col).alias("url"),
            F.col(html_col).cast("string").alias("_h"),
        )
        .select(
            "url",
            content.alias("robots_content"),
            canon.alias("has_canonical"),
        )
        .select(
            "url",
            "robots_content",
            F.coalesce(low.contains("noindex"), F.lit(False)).alias(
                "noindex"
            ),
            F.coalesce(low.contains("nofollow"), F.lit(False)).alias(
                "nofollow"
            ),
            "has_canonical",
        )
    )


def shard_integrity(
    corpus: DataFrame,
    shard_col: str = "shard",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-shard integrity card for corpus publishing: document count,
    total text bytes, and a deterministic shard digest = md5 of the
    per-document content-md5s concatenated in ``id_col`` order — what a
    WET/WARC/packed-shard manifest carries so a consumer can verify a
    shard without re-reading its neighbors, and what makes two
    independently produced copies of "the same" corpus provably
    byte-equal shard by shard (pair with :func:`shard_plan`, which
    assigns the shards this audits).

    Determinism: the digest orders by the primary key, never by
    partition layout, so reruns/resumes/engines agree byte for byte.
    Scale shape: ONE hash-agg per shard; the concatenation payload is
    O(32 bytes x shard docs) — bounded by the shard size the plan
    already targets, never the corpus (collect_list carries doc-md5s,
    not text). Output: (shard, n_docs, total_bytes, shard_digest).
    """
    per_doc = corpus.select(
        F.col(shard_col).alias("shard"),
        F.col(id_col).alias("_id"),
        F.md5(F.col(text_col).cast("binary")).alias("_fp"),
        F.length(F.col(text_col).cast("binary")).cast("long").alias("_b"),
    )
    return (
        per_doc.groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_b").cast("long").alias("total_bytes"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("_id", "_fp"))
                        ),
                        lambda x: x["_fp"],
                    ),
                    "",
                ).cast("binary")
            ).alias("shard_digest"),
        )
    )


def script_profile(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    other_min: float = 0.5,
) -> DataFrame:
    """Per-document Unicode script mix: counts of Latin / Cyrillic /
    CJK / Arabic letters, digits, and everything-else, plus the
    dominant-script share — the script-level complement of lang-ID
    that catches what trigram models cannot: mixed-script spam
    (Cyrillic lookalikes inside Latin words — the homoglyph trick),
    wrong-decode survivors, and CJK/Arabic docs a Latin-trained
    pipeline should route differently. FastText-class pipelines run
    exactly this as a pre-filter.

    Scale shape: stateless projection — five regexp_counts over
    explicit code-point classes in scan codegen, zero shuffles, no
    Python (the t78 encoding_audit shape). Ranges use \\x{hhhh}
    class syntax — the one form Java regex and RE2 share (RE2 has no
    \\uXXXX), so the oracle mirrors the patterns verbatim.
    ``is_mixed_script`` flags docs whose COMBINED non-dominant letter
    share reaches 10% — 89/6/5% Latin/Cyrillic/CJK flags even though no
    single minority script reaches 10% (deliberate: injected-junk docs
    usually spread the noise over several scripts; the combined share is
    1 - dominant_share, the quantity a router thresholds).
    ``other_share`` >= ``other_min`` flags docs that are mostly
    non-letter junk. Counts are code points, not bytes, on both
    engines.
    """
    t = F.col(text_col)
    lat = F.regexp_count(t, F.lit("[A-Za-z\\x{00C0}-\\x{024F}]")).cast("long")
    cyr = F.regexp_count(t, F.lit("[\\x{0400}-\\x{04FF}]")).cast("long")
    cjk = F.regexp_count(
        t, F.lit("[\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}\\x{AC00}-\\x{D7AF}]")
    ).cast("long")
    ara = F.regexp_count(t, F.lit("[\\x{0600}-\\x{06FF}]")).cast("long")
    dig = F.regexp_count(t, F.lit("[0-9]")).cast("long")
    total = F.length(t).cast("long")
    letters = F.col("n_latin") + F.col("n_cyrillic") + F.col("n_cjk") + F.col("n_arabic")
    top = F.greatest("n_latin", "n_cyrillic", "n_cjk", "n_arabic")
    base = documents.select(
        F.col(id_col).alias("doc_id"),
        lat.alias("n_latin"),
        cyr.alias("n_cyrillic"),
        cjk.alias("n_cjk"),
        ara.alias("n_arabic"),
        dig.alias("n_digit"),
        total.alias("n_total"),
    )
    return base.select(
        "doc_id",
        "n_latin",
        "n_cyrillic",
        "n_cjk",
        "n_arabic",
        "n_digit",
        "n_total",
        F.when(letters > 0,
               F.round(top.cast("double") / letters, 6)).alias(
            "dominant_share"
        ),
        F.when(
            letters > 0, (letters - top).cast("double") / letters >= 0.1
        ).otherwise(F.lit(False)).alias("is_mixed_script"),
        F.round(
            (F.col("n_total") - letters - F.col("n_digit")).cast("double")
            / F.greatest(F.col("n_total"), F.lit(1).cast("long")),
            6,
        ).alias("other_share"),
    ).withColumn(
        "is_mostly_other", F.col("other_share") >= float(other_min)
    )


def group_quality_wilson(
    rows: DataFrame,
    group_col: str = "host",
    good_col: str = "is_good",
    z: float = 1.96,
) -> DataFrame:
    """Per-group quality roll-up with a Wilson score lower bound — the
    small-sample-honest version of the per-domain quality share (t35's
    domain_stats reports raw means; a host with 2/2 good docs should NOT
    outrank one with 95/100, and at web scale MOST hosts are tiny-sample:
    the long tail of a 10^8-host crawl has a handful of pages each).
    Rank/filter hosts by ``wilson_lb`` instead of ``p_hat`` and the
    long-tail noise stops deciding the corpus mix.

        wilson_lb = (p + z^2/2n - z*sqrt((p(1-p) + z^2/4n)/n)) / (1 + z^2/n)

    Input: any relation with a group column and a boolean ``good_col``
    (e.g. quality_score >= tau, or an NBScorer verdict). One
    partial-aggregated hash-agg to |groups| rows, then pure column
    algebra on the tiny aggregate — the +,*,/,sqrt chain is evaluated
    with the SAME parenthesization the DuckDB oracle uses, so the
    6-dp rounding matches bit-for-bit (IEEE doubles, correctly-rounded
    sqrt on both engines). Output: (group, n, n_good, p_hat, wilson_lb).
    """
    zz = float(z) * float(z)
    agg = rows.groupBy(F.col(group_col).alias("grp")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col(good_col), 1).otherwise(0)).cast("long").alias(
            "n_good"
        ),
    )
    n = F.col("n").cast("double")
    p = F.col("n_good").cast("double") / n
    lb = (
        p + F.lit(zz) / (2.0 * n)
        - F.lit(float(z)) * F.sqrt((p * (1.0 - p) + F.lit(zz) / (4.0 * n)) / n)
    ) / (1.0 + F.lit(zz) / n)
    return agg.select(
        F.col("grp").alias(group_col),
        "n",
        "n_good",
        F.round(p, 6).alias("p_hat"),
        F.round(lb, 6).alias("wilson_lb"),
    )


def length_drift_psi(
    corpus_a: DataFrame,
    corpus_b: DataFrame,
    len_col: str = "n_chars",
    bucket_width: int = 200,
    n_buckets: int = 20,
) -> DataFrame:
    """Population Stability Index between two corpus snapshots over a
    document-length histogram — the drift monitor a CONTINUOUS crawl
    runs between rounds/dumps (the t82 novelty curve says how much is
    NEW; this says whether the distribution of what's coming in has
    SHIFTED — a boilerplate regression, a trap host flooding short
    pages, or an extractor change all move it). Industry rule of thumb:
    PSI < 0.1 stable, 0.1-0.25 drifting, > 0.25 investigate.

    psi = sum over buckets of (p_b - q_b) * ln(p_b / q_b), with
    Laplace-smoothed shares p = (count+1)/(total+n_buckets) so empty
    buckets never divide by zero. Each bucket's term is rounded to
    integer MICRO-NATS (the t58/t69 determinism trick: per-term rounding
    before any consumer sums them keeps cross-engine float drift out of
    the contract; long sums are associative).

    Shape: one union + one hash-agg to <= n_buckets rows (the histogram
    partial-aggregates map-side — each corpus is scanned ONCE), then
    single-partition windows over the tiny bucket relation for the
    totals (bounded by n_buckets, never by corpus). Output: (bucket,
    n_a, n_b, psi_term_micro) — total PSI = sum(psi_term_micro)/1e6.
    """
    kb = float(n_buckets)
    bucket = F.least(
        F.floor(F.col(len_col).cast("double") / float(bucket_width)),
        F.lit(int(n_buckets) - 1),
    ).cast("long")
    u = corpus_a.select(bucket.alias("bucket"), F.lit(0).alias("_s")).unionByName(
        corpus_b.select(bucket.alias("bucket"), F.lit(1).alias("_s"))
    )
    per = u.groupBy("bucket").agg(
        F.sum(F.when(F.col("_s") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("_s") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
    )
    w = Window.partitionBy()
    tot_a = F.sum("n_a").over(w).cast("double")
    tot_b = F.sum("n_b").over(w).cast("double")
    p = (F.col("n_a").cast("double") + 1.0) / (tot_a + F.lit(kb))
    q = (F.col("n_b").cast("double") + 1.0) / (tot_b + F.lit(kb))
    return per.select(
        "bucket",
        "n_a",
        "n_b",
        F.round((p - q) * F.log(p / q) * F.lit(1e6), 0)
        .cast("long")
        .alias("psi_term_micro"),
    )


def sentence_stats(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    long_words: int = 40,
) -> DataFrame:
    """Per-doc sentence-shape signals — the Gopher rule family this
    plane was missing (Rae et al. 2021 filter on words-per-sentence;
    machine-generated and boilerplate text sits at the extremes: 3-word
    nav fragments or 200-word run-ons). Sentences split on terminal
    punctuation runs followed by whitespace; empty fragments dropped;
    a text with no terminator is one sentence.

    Scale shape: entirely IN-ROW — split + higher-order transform/
    aggregate/filter in whole-stage codegen, ZERO shuffles, no explode
    (the t67 line_quality_filter shape applied at sentence grain). All
    counts are integer; the two ratios are single divisions of two
    integers, rounded 6 dp — exact on both engines. Output: (id,
    n_sentences, n_words, avg_words_per_sentence, pct_long_sentences).
    """
    sents = F.filter(
        F.split(F.col(text_col), r"[.!?]+\s+"),
        lambda s: F.length(F.trim(s)) > 0,
    )
    wc = F.transform(sents, lambda s: F.size(F.split(F.trim(s), r" +")))
    n_sent = F.size(wc)
    n_words = F.aggregate(wc, F.lit(0), lambda acc, x: acc + x)
    n_long = F.size(F.filter(wc, lambda x: x > F.lit(int(long_words))))
    return documents.select(
        F.col(id_col),
        n_sent.cast("long").alias("n_sentences"),
        n_words.cast("long").alias("n_words"),
        F.when(
            n_sent > 0,
            F.round(n_words.cast("double") / n_sent.cast("double"), 6),
        ).alias("avg_words_per_sentence"),
        F.when(
            n_sent > 0,
            F.round(n_long.cast("double") / n_sent.cast("double"), 6),
        ).alias("pct_long_sentences"),
    )


def host_concentration(
    docs: DataFrame, host_col_name: str = "host"
) -> DataFrame:
    """Corpus domain-concentration card: how dominated is the corpus by
    its biggest hosts — the Herfindahl-Hirschman index plus top-1/top-10
    share. Training-data papers report exactly this when arguing a dump
    is (or is not) a few-site echo chamber; a crawl whose HHI climbs
    round over round is tunneling into traps.

    Scale shape: ONE corpus scan into a per-host hash-agg (bounded by
    |hosts|), PERSISTED across its three tiny consumers (totals, HHI
    terms, top-k) so the corpus is never rescanned — |hosts| is ~10^8
    rows worst case, a cacheable relation, and the top-k is a
    TakeOrdered, never a global sort. HHI is summed from per-host terms
    rounded to integer PICO units (1e12) BEFORE the sum — long sums are
    associative, so distributed agg order cannot move the result
    (squares of small shares need the finer grain than micro).
    Output: ONE row (n_docs, n_hosts, hhi_pico, top1_share,
    top10_share), shares rounded 6 dp.

    The card's single row is computed EAGERLY inside a try/finally that
    unpersists the per-host aggregate before returning — CacheManager
    holds DataFrame cache blocks until an explicit unpersist, so a lazy
    shape would leak one |hosts|-sized cache entry per invocation for the
    session lifetime. The returned
    one-row frame is a materialized literal; every invocation still
    recomputes from the input (nothing is memoized across calls).
    """
    from pyspark import StorageLevel

    per = (
        docs.groupBy(F.col(host_col_name).alias("h"))
        .agg(F.count("*").cast("long").alias("n"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        tot = per.agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_hosts"),
        )
        terms = per.crossJoin(tot.select("n_docs")).select(
            F.round(
                F.pow(F.col("n").cast("double"), 2)
                * F.lit(1e12)
                / F.pow(F.col("n_docs").cast("double"), 2),
                0,
            )
            .cast("long")
            .alias("t")
        )
        hhi = terms.agg(F.sum("t").cast("long").alias("hhi_pico"))
        # deterministic top-k: count desc, host asc tiebreak; TakeOrdered
        top = per.orderBy(F.desc("n"), F.asc("h")).limit(10).select("n")
        top1 = per.orderBy(F.desc("n"), F.asc("h")).limit(1).select(
            F.col("n").alias("n1")
        )
        top10_sum = top.agg(F.sum("n").cast("long").alias("n10"))
        row = (
            tot.crossJoin(hhi)
            .crossJoin(top1)
            .crossJoin(top10_sum)
            .select(
                "n_docs",
                "n_hosts",
                "hhi_pico",
                F.round(F.col("n1").cast("double") / F.col("n_docs"), 6).alias(
                    "top1_share"
                ),
                F.round(F.col("n10").cast("double") / F.col("n_docs"), 6).alias(
                    "top10_share"
                ),
            )
            .collect()
        )
    finally:
        per.unpersist()
    return docs.sparkSession.createDataFrame(
        row,
        "n_docs long, n_hosts long, hhi_pico long, "
        "top1_share double, top10_share double",
    )


def extraction_density(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    text_col: str = "text",
    min_ratio: float = 0.1,
) -> DataFrame:
    """Extraction-quality audit: per page, how much of the served HTML
    survived text extraction (text-to-html ratio) and how link-dense the
    markup is — the two classic boilerplate/nav-page discriminators
    (content pages extract 20-60% of their bytes with few links/KB;
    chrome-heavy hub pages extract <10% with dozens). Flags
    ``low_yield`` pages whose ratio falls under ``min_ratio`` — the
    re-extract/drop candidate list an extractor regression audit reads.

    Input html/text as STRING columns (the engine's binary html decodes
    at the caller — kernels.extract_text's contract). Stateless
    projection: two lengths, one regexp_count, pure ratios rounded 6 dp
    — scan codegen, zero shuffles. Output: (url, html_len, text_len,
    text_ratio, n_links, links_per_kb, low_yield).
    """
    h = F.col(html_col)
    hlen = F.length(h).cast("long")
    tlen = F.length(F.col(text_col)).cast("long")
    nlinks = F.regexp_count(h, F.lit(r"(?i)<a[ \t][^>]*href")).cast("long")
    ratio = F.when(
        hlen > 0, F.round(tlen.cast("double") / hlen.cast("double"), 6)
    )
    return pages.select(
        F.col(url_col).alias("url"),
        hlen.alias("html_len"),
        tlen.alias("text_len"),
        ratio.alias("text_ratio"),
        nlinks.alias("n_links"),
        F.when(
            hlen > 0,
            F.round(nlinks.cast("double") * 1024.0 / hlen.cast("double"), 6),
        ).alias("links_per_kb"),
        F.coalesce(ratio < float(min_ratio), F.lit(False)).alias("low_yield"),
    )


def zipf_slope(
    documents: DataFrame, text_col: str = "text", top_n: int = 100
) -> DataFrame:
    """Zipf-fit corpus-health card: least-squares slope of ln(freq) vs
    ln(rank) over the top-N token frequencies. Natural-language corpora
    sit near slope -1 (Zipf's law); template/boilerplate floods flatten
    the head (slope toward 0) and token-salad spam steepens past -1.5 —
    a one-row monitor next to t103's host concentration.

    Determinism contract: ranks are a DETERMINISTIC ordering (freq
    desc, token asc); each point's ln(rank)/ln(freq) is rounded to
    integer MICRO-NATS first, and the regression sums (Sx, Sy, Sxy,
    Sxx) are then pure LONG sums — associative, so distributed agg
    order cannot move the slope. The final slope/intercept divisions
    are single double expressions of those longs, rounded 6 dp, written
    identically in the DuckDB twin.

    Scale shape: one explode + token hash-agg (bounded by vocab), a
    TakeOrdered top-N (never a global sort), then a single-partition
    window over N <= top_n rows. Output: ONE row (n_points,
    slope, intercept).
    """
    toks = documents.select(
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok")
    ).filter(F.length("tok") > 0)
    freq = toks.groupBy("tok").agg(F.count("*").cast("long").alias("n"))
    top = freq.orderBy(F.desc("n"), F.asc("tok")).limit(int(top_n))
    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    pts = top.withColumn("rank", F.row_number().over(w)).select(
        F.round(F.log(F.col("rank").cast("double")) * 1e6, 0)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("n").cast("double")) * 1e6, 0)
        .cast("long")
        .alias("y"),
    )
    s = pts.agg(
        F.count("*").cast("long").alias("np"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    npd = F.col("np").cast("double")
    slope = (npd * F.col("sxy").cast("double")
             - F.col("sx").cast("double") * F.col("sy").cast("double")) / (
        npd * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    intercept = (F.col("sy").cast("double") / 1e6
                 - slope * F.col("sx").cast("double") / 1e6) / npd
    return s.select(
        F.col("np").alias("n_points"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


def lix_readability(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    long_chars: int = 7,
) -> DataFrame:
    """Per-doc LIX readability index — the syllable-free readability
    measure (Björnsson 1968): ``words/sentences + 100*long_words/words``
    with long = >= ``long_chars`` characters. Unlike Flesch it needs no
    syllable model, so it computes identically on any engine — the
    readability grade LLM-corpus curricula bucket by (LIX < 30 easy,
    40-50 newsprint, > 60 bureaucratic/spam). Complements
    sentence_stats: same sentence splitter, different signal (word
    LENGTH mix vs sentence SHAPE).

    All in-row (split + higher-order counts, zero shuffles); the index
    is two exact integer ratios summed, rounded 6 dp. Docs with no
    sentences/words emit NULL. Output: (id, n_words, n_sentences,
    n_long_words, lix).
    """
    sents = F.filter(
        F.split(F.col(text_col), r"[.!?]+\s+"),
        lambda s: F.length(F.trim(s)) > 0,
    )
    words = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"),
        lambda w: F.length(w) > 0,
    )
    n_s = F.size(sents)
    n_w = F.size(words)
    n_long = F.size(F.filter(words, lambda w: F.length(w) >= int(long_chars)))
    lix = F.when(
        (n_s > 0) & (n_w > 0),
        F.round(
            n_w.cast("double") / n_s.cast("double")
            + F.lit(100.0) * n_long.cast("double") / n_w.cast("double"),
            6,
        ),
    )
    return documents.select(
        F.col(id_col),
        n_w.cast("long").alias("n_words"),
        n_s.cast("long").alias("n_sentences"),
        n_long.cast("long").alias("n_long_words"),
        lix.alias("lix"),
    )


def vocab_growth(
    documents: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Corpus vocabulary card (the Heaps'-law companion to t106's Zipf
    fit): total tokens, distinct types, hapax legomena (frequency-1
    types), type-token ratio and hapax share. Template floods crater
    the TTR; OCR noise and token salad inflate the hapax share toward
    1 — the two cheapest whole-corpus health numbers after size itself.

    One explode + one token hash-agg (bounded by vocab, partial-
    aggregated) + one scalar agg. All counts integer; the two ratios
    are single divisions rounded 6 dp. Output: ONE row (n_tokens,
    n_types, n_hapax, type_token_ratio, hapax_share).
    """
    toks = documents.select(
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok")
    ).filter(F.length("tok") > 0)
    freq = toks.groupBy("tok").agg(F.count("*").cast("long").alias("n"))
    return freq.agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
    ).select(
        "n_tokens",
        "n_types",
        "n_hapax",
        F.round(
            F.col("n_types").cast("double") / F.col("n_tokens").cast("double"),
            6,
        ).alias("type_token_ratio"),
        F.round(
            F.col("n_hapax").cast("double") / F.col("n_types").cast("double"),
            6,
        ).alias("hapax_share"),
    )
