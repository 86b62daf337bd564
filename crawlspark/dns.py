"""DNS prefetch cache — the batch analog of the reference's Redis DNS
cache (N6).

The reference resolves A records per request through a Redis-backed TTL
cache with a sweeper thread (/root/reference/utils/dns_cache.py:36-113,
wired as a middleware at /root/reference/Douban2/middlewares.py:288-305).
Per-request resolution inside executors is the anti-pattern the cache
exists to avoid — and in Spark the natural unit is the ROUND, not the
request: a round's slice touches a bounded set of distinct hosts (at
most the hosts admitted by politeness budgets), so the engine resolves
that DISTINCT set once per round and joins the resulting ``(host,
addr)`` map back onto the slice.

The prefetch itself is DISTRIBUTED: ``resolve_hosts`` runs
the resolver inside a mapInPandas over the distinct-host frame — one
resolver + TTL cache per python worker, lazily built from a zero-arg
factory and (with ``cache_key``) reused across tasks and rounds on that
worker. The driver never collects the host set, so a design-point round
(10^7 URLs, ~10^6 distinct hosts) resolves in parallel across executors
instead of serially on the driver. The application join is broadcast-
hinted only when the caller's ``n_hosts_hint`` proves the map small
(the robots gate, scheduler.BROADCAST_ROBOTS_MAX_HOSTS, N4); otherwise
AQE decides from runtime stats. A driver-side path (``cache=``) remains
for provably tiny rounds and for tests that need driver-visible hit/miss
counters.

No network exists in this sandbox, so the default resolver is an
explicit seam (same pattern as fetch.FetchBackend and
textops.PandasScorer): ``DeterministicResolver`` derives a stable fake
address from the host's md5 for tests (md5 rather than sha1 so the
driver gate `c06_dns_map` can verify the whole prefetch+broadcast-join
path hash-exactly against a DuckDB SQL oracle); a production deployment
slots a real ``socket.getaddrinfo``/dnspython resolver into
``Resolver`` without touching the engine.
"""

from __future__ import annotations

import hashlib
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .scheduler import BROADCAST_ROBOTS_MAX_HOSTS


class Resolver:
    """Resolves one hostname to an address string, or raises on failure.
    Production: wrap socket.getaddrinfo / dnspython here (the reference's
    resolver config, utils/dns_cache.py:19-23)."""

    def resolve(self, host: str) -> str:
        raise NotImplementedError

    def ttl(self, host: str) -> float | None:
        """Optional per-record TTL override (the reference caps the
        record's own TTL at 3600 s, utils/dns_cache.py:52-55)."""
        return None


class DeterministicResolver(Resolver):
    """Sandbox resolver: stable fake IPv4 derived from md5(host) — the
    documented stand-in for a real A-record lookup (no network here).
    Oracle-checkable: the c06_dns_map driver gate recomputes these
    addresses in pure DuckDB SQL from md5 hex digits."""

    def resolve(self, host: str) -> str:
        h = hashlib.md5(host.encode("utf-8")).digest()
        return f"10.{h[0]}.{h[1]}.{h[2]}"


class DnsCache:
    """Driver-side TTL cache over a pluggable resolver.

    Mirrors the reference's semantics — TTL'd entries (default 3600 s),
    failures uncached, expired entries dropped lazily on access (the
    batch engine needs no sweeper thread: entries are touched every
    round, /root/reference/utils/dns_cache.py:28-31's 10-min sweeper is
    replaced by the check in :meth:`lookup`).
    """

    def __init__(self, resolver: Resolver, default_ttl: float = 3600.0,
                 clock=time.monotonic):
        self.resolver = resolver
        self.default_ttl = default_ttl
        self._clock = clock
        self._cache: dict[str, tuple[str, float]] = {}
        self.hits = 0
        self.misses = 0
        self.failures = 0

    def lookup(self, host: str) -> str | None:
        now = self._clock()
        ent = self._cache.get(host)
        if ent is not None and now < ent[1]:
            self.hits += 1
            return ent[0]
        self.misses += 1
        try:
            addr = self.resolver.resolve(host)
        except Exception:
            self.failures += 1  # uncached: retried next round
            return None
        ttl = self.resolver.ttl(host) or self.default_ttl
        self._cache[host] = (addr, now + min(ttl, self.default_ttl))
        return addr

    def prefetch(self, hosts: list[str]) -> dict[str, str]:
        """Resolve a round's distinct host set; unresolvable hosts are
        absent from the returned map (their fetches miss and take the
        engine's retry path, P4/N9)."""
        out = {}
        for h in hosts:
            addr = self.lookup(h)
            if addr is not None:
                out[h] = addr
        return out


# Worker-process-local TTL caches for the distributed prefetch, keyed by
# the caller-chosen cache_key: Spark reuses python workers across tasks
# (spark.python.worker.reuse default), so a key'd cache amortizes
# resolutions across ROUNDS on each worker — the executor-side analog of
# the reference's long-lived Redis DNS cache (utils/dns_cache.py:36-113).
_WORKER_CACHES: dict[str, DnsCache] = {}


def resolve_hosts(hosts_df: DataFrame, resolver_factory,
                  default_ttl: float = 3600.0,
                  cache_key: str | None = None) -> DataFrame:
    """DISTRIBUTED prefetch: resolve a distinct-host frame
    inside a mapInPandas, one Resolver per python worker.

    The driver never collects the host set — a design-point round
    (10^7 URLs, ~10^6 distinct hosts) resolves in parallel across the
    cluster instead of 10^6 sequential driver-side lookups. The resolver
    must be constructible ON the worker: pass a zero-arg factory (the
    PandasScorer pattern, textops.py), never a live handle. Each worker
    lazily builds one DnsCache around its resolver; with a ``cache_key``
    the cache persists in the worker process across tasks and rounds.

    Returns a (host, addr) frame; unresolvable hosts are ABSENT (their
    fetches miss and take the engine's retry path, P4/N9).
    """
    import pandas as pd  # noqa: F401 (worker-side too)

    # key the worker cache by (caller key, resolver identity,
    # ttl), not the caller key alone — a later call reusing a cache_key
    # with a different factory or ttl must get a fresh resolver, not the
    # first call's (stale addresses, silently). The factory's module and
    # qualname identify the resolver class; closures with differing
    # captured state should use distinct cache_keys (documented).
    if cache_key is not None:
        cache_key = (
            f"{cache_key}:{getattr(resolver_factory, '__module__', '')}."
            f"{getattr(resolver_factory, '__qualname__', '')}:{default_ttl}"
        )

    def _resolve(batches):
        import pandas as pd
        cache = None
        for pdf in batches:
            if cache is None:
                if cache_key is not None:
                    cache = _WORKER_CACHES.get(cache_key)
                if cache is None:
                    cache = DnsCache(resolver_factory(), default_ttl=default_ttl)
                    if cache_key is not None:
                        _WORKER_CACHES[cache_key] = cache
            m = cache.prefetch(pdf["host"].tolist())
            yield pd.DataFrame(
                {"host": list(m.keys()), "addr": list(m.values())}
            )

    return hosts_df.select("host").mapInPandas(
        _resolve, "host string, addr string"
    )


def with_addrs(spark: SparkSession, slice_df: DataFrame,
               cache: DnsCache | None = None, *,
               resolver_factory=None, default_ttl: float = 3600.0,
               cache_key: str | None = None,
               n_hosts_hint: int | None = None) -> DataFrame:
    """Annotate a round's popped slice with resolved addresses.

    Two prefetch shapes behind one seam:

    * ``resolver_factory=`` (the engine default shape): DISTRIBUTED —
      :func:`resolve_hosts` resolves the distinct hosts worker-side, then
      the (host, addr) map joins back. The join is broadcast-HINTED only
      when the caller supplies ``n_hosts_hint`` at or under
      ``BROADCAST_ROBOTS_MAX_HOSTS`` (admission control knows the admitted
      host count); otherwise un-hinted — AQE broadcasts small maps from
      runtime stats and shuffle-joins web-scale ones. No driver-side
      collect anywhere on this path.
    * ``cache=`` (legacy/test shape): driver-side DnsCache prefetch over
      a collected distinct-host list + broadcast map join. Only sound
      when the round's host set is KNOWN tiny (it is bounded by
      admission control, module docstring) — kept for bounded rounds and
      for tests that need driver-visible hit/miss counters.

    Rows whose host did not resolve carry addr NULL — a fetch backend
    treats them as failures so the engine's retry/backoff engages.
    """
    if (cache is None) == (resolver_factory is None):
        raise ValueError("pass exactly one of cache= or resolver_factory=")
    if resolver_factory is not None:
        m = resolve_hosts(slice_df.select("host").distinct(),
                          resolver_factory, default_ttl=default_ttl,
                          cache_key=cache_key)
        if n_hosts_hint is not None and n_hosts_hint <= BROADCAST_ROBOTS_MAX_HOSTS:
            m = F.broadcast(m)
        return slice_df.join(m, "host", "left")
    hosts = [r["host"] for r in slice_df.select("host").distinct().collect()]
    mapping = cache.prefetch(hosts)
    if not mapping:
        return slice_df.withColumn("addr", F.lit(None).cast("string"))
    m = spark.createDataFrame(
        [(h, a) for h, a in mapping.items()], "host string, addr string"
    )
    return slice_df.join(F.broadcast(m), "host", "left")
