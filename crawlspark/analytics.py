"""Analytics plane: the reference's full SQL surface as DataFrame builders.

Implements every relational operator in SURVEY §2.7 (R1-R30) — the corpus
of ``/root/reference/sql/queries.sql:1-239``, the interactive query tool
``scripts/query_movies.py:41-332``, the canned statistics
``utils/data_storage.py:210-254`` and the 6 SQLite views — as named,
composable DataFrame builders over the ``movies`` fixture table.

Each entry in :data:`CORPUS` pairs the Spark builder with an equivalent
DuckDB oracle SQL string; tests/test_sql_corpus.py replays the whole corpus
against DuckDB on identical data. Naming note: every computed column is
aliased identically on both sides (driver hash-compare contract).

Semantics notes vs the reference:
* GROUP_CONCAT(DISTINCT x): SQLite emits arrival order; we pin
  deterministic order (sorted) on both sides (SURVEY R18).
* duration buckets (sql/queries.sql:62-73) compare TEXT runtime to
  integers, which SQLite resolves by type ordering (always ELSE); we
  implement the *intended* numeric semantics via REPLACE+TRY_CAST and use
  identical SQL for the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# try_cast keeps permissive semantics under Spark 4's default ANSI mode
_RUNTIME_MIN = "try_cast(replace(runtime, '分钟', '') as int)"
_YEAR = "try_cast(substr(release_date, 1, 4) as int)"


def by_rate_desc(m: DataFrame) -> DataFrame:  # R1, R7
    return m.select("name", "director", "rate", "num").orderBy(
        F.desc("rate"), F.asc("rank") if "rank" in m.columns else F.asc("name")
    )


def by_director_like(m: DataFrame, needle: str) -> DataFrame:  # R3
    return m.filter(F.col("director").contains(needle)).select(
        "name", "rate", "release_date"
    )


def high_rated(m: DataFrame, threshold: float = 9.0) -> DataFrame:  # R2
    return m.filter(F.col("rate") > threshold).select("name", "director", "rate", "num")


def yearly_stats(m: DataFrame) -> DataFrame:  # R10, R13, R16
    return (
        m.groupBy(F.substring("release_date", 1, 4).alias("year"))
        .agg(
            F.count("*").alias("movie_count"),
            F.round(F.avg("rate"), 2).alias("avg_rate"),
        )
        .orderBy("year")
    )


def director_stats(m: DataFrame) -> DataFrame:  # R9, R13, R17
    return (
        m.groupBy("director")
        .agg(
            F.count("*").alias("movie_count"),
            F.round(F.avg("rate"), 2).alias("avg_rate"),
            F.max("rate").alias("highest_rate"),
        )
        .filter(F.col("movie_count") > 1)
    )


def genre_stats(m: DataFrame) -> DataFrame:  # R9
    return m.groupBy("genres").agg(
        F.count("*").alias("movie_count"),
        F.round(F.avg("rate"), 2).alias("avg_rate"),
        F.round(F.avg("num"), 0).alias("avg_votes"),
    )


def top_k(m: DataFrame, k: int = 10) -> DataFrame:  # R7, R8 (TakeOrdered)
    return (
        m.select("name", "director", "rate", "num", "release_date", "genres")
        .orderBy(F.desc("rate"), F.desc("num"), F.asc("name"))
        .limit(k)
    )


def duration_buckets(m: DataFrame) -> DataFrame:  # R11, R20, R22
    mins = F.expr(_RUNTIME_MIN)
    bucket = (
        F.when(mins <= 90, "90分钟以下")
        .when(mins <= 120, "90-120分钟")
        .when(mins <= 150, "120-150分钟")
        .otherwise("150分钟以上")
    )
    return (
        m.groupBy(bucket.alias("duration_range"))
        .agg(F.count("*").alias("movie_count"), F.round(F.avg("rate"), 2).alias("avg_rate"))
    )


def country_stats(m: DataFrame) -> DataFrame:  # R9
    return m.groupBy("country").agg(
        F.count("*").alias("movie_count"), F.round(F.avg("rate"), 2).alias("avg_rate")
    )


def keyword_search(m: DataFrame, kw_name: str, kw_dir: str, kw_sw: str, kw_act: str) -> DataFrame:  # R3
    return m.filter(
        F.col("name").contains(kw_name)
        | F.col("director").contains(kw_dir)
        | F.col("screenwriter").contains(kw_sw)
        | F.col("actors").contains(kw_act)
    ).select("name", "director", "screenwriter", "actors", "rate", "num")


def year_range(m: DataFrame, y0: int, y1: int) -> DataFrame:  # R4
    return m.filter(F.expr(_YEAR).between(y0, y1)).select(
        "name", "director", "release_date", "rate"
    )


def overall_stats(m: DataFrame) -> DataFrame:  # R13, R14
    return m.agg(
        F.count("*").alias("total_movies"),
        F.countDistinct("director").alias("total_directors"),
        F.countDistinct("genres").alias("total_genres"),
        F.round(F.avg("rate"), 2).alias("avg_rate"),
        F.round(F.avg("num"), 0).alias("avg_votes"),
    )


def rating_trend(m: DataFrame) -> DataFrame:  # R15, R17
    return (
        m.groupBy(F.substring("release_date", 1, 4).alias("year"))
        .agg(
            F.count("*").alias("movie_count"),
            F.round(F.avg("rate"), 2).alias("avg_rate"),
            F.round(F.avg("num"), 0).alias("avg_votes"),
            F.sum(F.when(F.col("rate") >= 9.0, 1).otherwise(0)).alias("high_rated_count"),
        )
        .filter(F.col("movie_count") >= 3)
    )


def period_genre_shift(m: DataFrame) -> DataFrame:  # R11, R12, R23
    y = F.expr(_YEAR)
    period = (
        F.when(y < 1980, "1980年前")
        .when(y.between(1980, 1989), "1980年代")
        .when(y.between(1990, 1999), "1990年代")
        .when(y.between(2000, 2009), "2000年代")
        .otherwise("2010年后")
    )
    return m.groupBy(period.alias("period"), F.col("genres")).agg(
        F.count("*").alias("movie_count"), F.round(F.avg("rate"), 2).alias("avg_rate")
    )


def long_high_rated(m: DataFrame) -> DataFrame:  # R2, R20, R22 combo
    return m.filter(
        (F.col("rate") >= 8.5) & (F.expr(_RUNTIME_MIN) >= 150) & (F.col("num") >= 10000)
    ).select("name", "director", "rate", "runtime", "num")


def director_portfolio(m: DataFrame) -> DataFrame:  # R18 (GROUP_CONCAT DISTINCT)
    return (
        m.groupBy("director")
        .agg(
            F.count("*").alias("movie_count"),
            F.round(F.avg("rate"), 2).alias("avg_rate"),
            F.concat_ws(",", F.sort_array(F.collect_set("genres"))).alias("all_genres"),
            F.max("rate").alias("best_rate"),
            F.min("rate").alias("worst_rate"),
        )
        .filter(F.col("movie_count") >= 2)
    )


def rate_range_analysis(m: DataFrame) -> DataFrame:  # R11, R21 (INSTR+SUBSTR)
    bucket = (
        F.when(F.col("rate") >= 9.0, "9分以上")
        .when(F.col("rate") >= 8.5, "8.5-9分")
        .when(F.col("rate") >= 8.0, "8-8.5分")
        .when(F.col("rate") >= 7.5, "7.5-8分")
        .otherwise("7.5分以下")
    )
    main_genre = F.substring_index("genres", "/", 1)
    return m.groupBy(bucket.alias("rate_range")).agg(
        F.count("*").alias("movie_count"),
        F.round(F.avg("num"), 0).alias("avg_votes"),
        F.concat_ws(",", F.sort_array(F.collect_set(main_genre))).alias("main_genres"),
    )


def votes_trend(m: DataFrame) -> DataFrame:  # sql/queries.sql:145-153 (5.2)
    return m.groupBy(F.substring("release_date", 1, 4).alias("year")).agg(
        F.round(F.avg("num"), 0).alias("avg_votes"),
        F.max("num").alias("max_votes"),
        F.min("num").alias("min_votes"),
    )


def high_rated_genres(m: DataFrame) -> DataFrame:  # sql/queries.sql:156-164 (6.1)
    return (
        m.filter(F.col("rate") >= 9.0)
        .groupBy("genres")
        .agg(
            F.count("*").alias("movie_count"),
            F.round(F.avg("rate"), 2).alias("avg_rate"),
            F.round(F.avg("num"), 0).alias("avg_votes"),
        )
    )


def genre_rate_votes_year(m: DataFrame) -> DataFrame:  # sql/queries.sql:193-200 (7.2)
    return m.filter(
        F.col("genres").contains("剧情")
        & (F.col("rate") >= 8.5)
        & (F.col("num") >= 50000)
        & (F.substring("release_date", 1, 4) >= "2000")
    ).select("name", "director", "rate", "genres", "num")


def data_quality(m: DataFrame) -> DataFrame:  # R5, R15, R30
    def missing(c):
        return F.sum(F.when(F.col(c).isNull() | (F.col(c) == ""), 1).otherwise(0))

    return m.agg(
        F.count("*").alias("total_movies"),
        F.sum(F.when(F.col("rate") >= 9.0, 1).otherwise(0)).alias("high_rated_count"),
        F.sum(F.when(F.col("num") >= 100000, 1).otherwise(0)).alias("popular_count"),
        missing("runtime").alias("missing_runtime"),
        missing("genres").alias("missing_genres"),
        missing("release_date").alias("missing_date"),
    )


def node_stats(m: DataFrame) -> DataFrame:  # movies_node_stats view (S6)
    return m.groupBy("node_id").agg(
        F.count("*").alias("movie_count"),
        F.round(F.avg("rate"), 2).alias("avg_rate"),
        F.min("rank").alias("min_rank"),
        F.max("rank").alias("max_rank"),
    )


def duplicates_view(m: DataFrame) -> DataFrame:  # movies_duplicates view (S6/D4)
    return (
        m.groupBy("rank", "name")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 1)
    )


def key_lookup(m: DataFrame, rank: int) -> DataFrame:  # R29
    return m.filter(F.col("rank") == rank).limit(1)


def crawl_summary(m: DataFrame) -> DataFrame:  # S8 (crawl_summary.txt analog)
    return m.agg(
        F.count("*").alias("total"),
        F.min("rank").alias("min_rank"),
        F.max("rank").alias("max_rank"),
        F.countDistinct("node_id").alias("nodes"),
    )


def write_crawl_summary(m: DataFrame, path: str, timestamp: str = "") -> str:
    """Materialize the crawl summary as the reference's text artifact
    (/root/reference/Douban2/pipelines.py:397-405: crawl time, total rows,
    rank range, participating nodes, per-node counts). One aggregate job +
    one tiny grouped collect; the report itself is driver-side."""
    s = crawl_summary(m).collect()[0]
    node_counts = sorted(
        (r["node_id"], r["n"])
        for r in m.groupBy("node_id").agg(F.count("*").alias("n")).collect()
    )
    lines = [
        f"采集时间: {timestamp}",
        f"总数据量: {s['total']}",
        f"排名范围: {s['min_rank']} - {s['max_rank']}",
        f"参与节点: {', '.join(n for n, _ in node_counts)}",
        "",
        "节点数据统计:",
    ]
    lines += [f"{n}: {c}条" for n, c in node_counts]
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    return path


# ---------------------------------------------------------------------------
# corpus with DuckDB oracles (tests/test_sql_corpus.py replays all of these)
# ---------------------------------------------------------------------------

CORPUS: dict[str, tuple] = {
    "by_rate_desc": (
        lambda m: by_rate_desc(m),
        "SELECT name, director, rate, num FROM movies_all",
    ),
    "director_like": (
        lambda m: by_director_like(m, "导演07"),
        "SELECT name, rate, release_date FROM movies_all WHERE director LIKE '%导演07%'",
    ),
    "high_rated": (
        lambda m: high_rated(m),
        "SELECT name, director, rate, num FROM movies_all WHERE rate > 9.0",
    ),
    "yearly_stats": (
        yearly_stats,
        "SELECT substr(release_date,1,4) AS year, count(*) AS movie_count, "
        "round(avg(rate),2) AS avg_rate FROM movies_all GROUP BY 1",
    ),
    "director_stats": (
        director_stats,
        "SELECT director, count(*) AS movie_count, round(avg(rate),2) AS avg_rate, "
        "max(rate) AS highest_rate FROM movies_all GROUP BY director HAVING count(*) > 1",
    ),
    "genre_stats": (
        genre_stats,
        "SELECT genres, count(*) AS movie_count, round(avg(rate),2) AS avg_rate, "
        "round(avg(num),0) AS avg_votes FROM movies_all GROUP BY genres",
    ),
    "top_k": (
        top_k,
        "SELECT name, director, rate, num, release_date, genres FROM movies_all "
        "ORDER BY rate DESC, num DESC, name ASC LIMIT 10",
    ),
    "duration_buckets": (
        duration_buckets,
        "SELECT CASE WHEN try_cast(replace(runtime,'分钟','') AS int) <= 90 THEN '90分钟以下' "
        "WHEN try_cast(replace(runtime,'分钟','') AS int) <= 120 THEN '90-120分钟' "
        "WHEN try_cast(replace(runtime,'分钟','') AS int) <= 150 THEN '120-150分钟' "
        "ELSE '150分钟以上' END AS duration_range, count(*) AS movie_count, "
        "round(avg(rate),2) AS avg_rate FROM movies_all GROUP BY 1",
    ),
    "country_stats": (
        country_stats,
        "SELECT country, count(*) AS movie_count, round(avg(rate),2) AS avg_rate "
        "FROM movies_all GROUP BY country",
    ),
    "keyword_search": (
        lambda m: keyword_search(m, "电影01", "导演03", "编剧7", "周星驰"),
        "SELECT name, director, screenwriter, actors, rate, num FROM movies_all "
        "WHERE name LIKE '%电影01%' OR director LIKE '%导演03%' "
        "OR screenwriter LIKE '%编剧7%' OR actors LIKE '%周星驰%'",
    ),
    "year_range": (
        lambda m: year_range(m, 2000, 2025),
        "SELECT name, director, release_date, rate FROM movies_all "
        "WHERE try_cast(substr(release_date,1,4) AS int) BETWEEN 2000 AND 2025",
    ),
    "overall_stats": (
        overall_stats,
        "SELECT count(*) AS total_movies, count(DISTINCT director) AS total_directors, "
        "count(DISTINCT genres) AS total_genres, round(avg(rate),2) AS avg_rate, "
        "round(avg(num),0) AS avg_votes FROM movies_all",
    ),
    "rating_trend": (
        rating_trend,
        "SELECT substr(release_date,1,4) AS year, count(*) AS movie_count, "
        "round(avg(rate),2) AS avg_rate, round(avg(num),0) AS avg_votes, "
        "sum(CASE WHEN rate >= 9.0 THEN 1 ELSE 0 END) AS high_rated_count "
        "FROM movies_all GROUP BY 1 HAVING count(*) >= 3",
    ),
    "period_genre_shift": (
        period_genre_shift,
        "SELECT CASE WHEN try_cast(substr(release_date,1,4) AS int) < 1980 THEN '1980年前' "
        "WHEN try_cast(substr(release_date,1,4) AS int) BETWEEN 1980 AND 1989 THEN '1980年代' "
        "WHEN try_cast(substr(release_date,1,4) AS int) BETWEEN 1990 AND 1999 THEN '1990年代' "
        "WHEN try_cast(substr(release_date,1,4) AS int) BETWEEN 2000 AND 2009 THEN '2000年代' "
        "ELSE '2010年后' END AS period, genres, count(*) AS movie_count, "
        "round(avg(rate),2) AS avg_rate FROM movies_all GROUP BY 1, 2",
    ),
    "long_high_rated": (
        long_high_rated,
        "SELECT name, director, rate, runtime, num FROM movies_all WHERE rate >= 8.5 "
        "AND try_cast(replace(runtime,'分钟','') AS int) >= 150 AND num >= 10000",
    ),
    "director_portfolio": (
        director_portfolio,
        "SELECT director, count(*) AS movie_count, round(avg(rate),2) AS avg_rate, "
        "string_agg(DISTINCT genres, ',' ORDER BY genres) AS all_genres, "
        "max(rate) AS best_rate, min(rate) AS worst_rate "
        "FROM movies_all GROUP BY director HAVING count(*) >= 2",
    ),
    "rate_range_analysis": (
        rate_range_analysis,
        "SELECT CASE WHEN rate >= 9.0 THEN '9分以上' WHEN rate >= 8.5 THEN '8.5-9分' "
        "WHEN rate >= 8.0 THEN '8-8.5分' WHEN rate >= 7.5 THEN '7.5-8分' "
        "ELSE '7.5分以下' END AS rate_range, count(*) AS movie_count, "
        "round(avg(num),0) AS avg_votes, "
        "string_agg(DISTINCT CASE WHEN instr(genres,'/') > 0 "
        "THEN substr(genres,1,instr(genres,'/')-1) ELSE genres END, ',' "
        "ORDER BY CASE WHEN instr(genres,'/') > 0 "
        "THEN substr(genres,1,instr(genres,'/')-1) ELSE genres END) AS main_genres "
        "FROM movies_all GROUP BY 1",
    ),
    "votes_trend": (
        votes_trend,
        "SELECT substr(release_date,1,4) AS year, round(avg(num),0) AS avg_votes, "
        "max(num) AS max_votes, min(num) AS min_votes FROM movies_all GROUP BY 1",
    ),
    "high_rated_genres": (
        high_rated_genres,
        "SELECT genres, count(*) AS movie_count, round(avg(rate),2) AS avg_rate, "
        "round(avg(num),0) AS avg_votes FROM movies_all WHERE rate >= 9.0 GROUP BY genres",
    ),
    "genre_rate_votes_year": (
        genre_rate_votes_year,
        "SELECT name, director, rate, genres, num FROM movies_all "
        "WHERE genres LIKE '%剧情%' AND rate >= 8.5 AND num >= 50000 "
        "AND substr(release_date,1,4) >= '2000'",
    ),
    "data_quality": (
        data_quality,
        "SELECT count(*) AS total_movies, "
        "sum(CASE WHEN rate >= 9.0 THEN 1 ELSE 0 END) AS high_rated_count, "
        "sum(CASE WHEN num >= 100000 THEN 1 ELSE 0 END) AS popular_count, "
        "sum(CASE WHEN runtime IS NULL OR runtime = '' THEN 1 ELSE 0 END) AS missing_runtime, "
        "sum(CASE WHEN genres IS NULL OR genres = '' THEN 1 ELSE 0 END) AS missing_genres, "
        "sum(CASE WHEN release_date IS NULL OR release_date = '' THEN 1 ELSE 0 END) AS missing_date "
        "FROM movies_all",
    ),
    "node_stats": (
        node_stats,
        "SELECT node_id, count(*) AS movie_count, round(avg(rate),2) AS avg_rate, "
        "min(rank) AS min_rank, max(rank) AS max_rank FROM movies_all GROUP BY node_id",
    ),
    "duplicates_view": (
        duplicates_view,
        "SELECT rank, name, count(*) AS cnt FROM movies_all GROUP BY rank, name "
        "HAVING count(*) > 1",
    ),
    "key_lookup": (
        lambda m: key_lookup(m, 42),
        "SELECT * FROM movies_all WHERE rank = 42 LIMIT 1",
    ),
    "crawl_summary": (
        crawl_summary,
        "SELECT count(*) AS total, min(rank) AS min_rank, max(rank) AS max_rank, "
        "count(DISTINCT node_id) AS nodes FROM movies_all",
    ),
}
