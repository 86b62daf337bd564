"""crawlspark — a PySpark-native distributed crawl + analytics engine.

A from-scratch, Spark-first reimplementation of the capabilities of the
reference system (tooth-lab/Scrapy-redis, a Scrapy-Redis distributed
crawler + SQLite/Parquet analytics tail; see SURVEY.md):

* the Redis ZSET priority request queue     -> a snapshot-versioned
  priority *frontier table* (``crawlspark.store.FrontierStore``)
* the RFPDupeFilter fingerprint Redis SET   -> a host-bucket-partitioned
  *seen* table, dedup by SHA1-of-canonical-URL anti-join
* the spider fetch/parse stage              -> a batched fetch-extract-emit
  job over a Common-Crawl-style ``pages`` table (``crawlspark.crawl``)
* politeness / robots.txt middlewares       -> per-host admission budgets
  + a broadcast robots table (``crawlspark.scheduler``)
* the SQLite analytics plane                -> DataFrame/SQL builders
  (``crawlspark.analytics``)

The crawl round's per-row logic lives in four Arrow-vectorized kernels
(``crawlspark.kernels``); the rest of the round is declarative DataFrame/SQL
so Catalyst owns pushdown, pruning, join selection, and AQE skew handling.
Per-row Python elsewhere (robots parsing, DNS, WARC, dedup, textops,
streaming state) is likewise pandas_udf / mapInPandas over Arrow batches.
"""

__version__ = "0.1.0"
