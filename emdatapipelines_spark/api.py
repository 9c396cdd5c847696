"""Public query API: ``engine.sql()`` with usage tracking, rate limiting and
a TTL result cache.

≈ the read path traced in SURVEY §3.3:
`resources/public_resources.py:66-98` (execute_public_query),
`utils/usage_tracking.py:58-93` (sliding 1-hour per-organization quotas),
`public_resources.py:217-288` (query classification + fingerprinting),
`public_resources.py:482-627` (TTL cache, 300 s default, warm queries).
StarRocks-over-pymysql becomes ``spark.sql`` over registered views; the
middleware stays deliberately driver-side plain Python (it guards the query
boundary, not the data path).

Cache admission: a result is pinned (``df.cache()``) on the *second* request
for its fingerprint, not the first. A miss stores the plain ``spark.sql``
frame in the TTL entry. The request that finds that entry live replaces it
with a new frame for the same query, pinned before it runs, so the second
request builds the in-memory relation and the third and later requests
read it. (The stored frame cannot be pinned in place: Spark fixes a frame's
physical plan at its first action, so a frame that has already run keeps
recomputing after ``cache()``.) Most requests are one-off queries, and
building an in-memory relation that no later request reads costs them
planning and execution. The trade-off: a fingerprint pays at most one
extra uncached execution in total, and the second request pays the cache
build the first one used to pay. ``warm()`` admits its queries at once,
since the warm list holds known-hot queries. ``usage_log`` ``elapsed_ms``
is plan-build time only (execution is lazy).
"""

from __future__ import annotations

import hashlib
import time
from collections import defaultdict, deque
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

#: org-type hourly quotas (`utils/usage_tracking.py:58-93`).
DEFAULT_QUOTAS = {"public": 1000, "research": 5000, "government": 10000}


def classify_query(sql: str) -> str:
    """Coarse query classification for usage logs
    (`public_resources.py:217-227`)."""
    s = sql.lower()
    for kw, label in [
        ("disaster", "disaster_query"),
        ("weather", "weather_query"),
        ("agricultural", "agricultural_query"),
        ("usda", "usda_query"),
    ]:
        if kw in s:
            return label
    return "select_query" if s.lstrip().startswith("select") else "other"


def fingerprint_query(sql: str) -> str:
    """Stable query fingerprint (the reference hashes to 6 digits,
    `public_resources.py:223`; md5 here to avoid collisions)."""
    return hashlib.md5(" ".join(sql.split()).lower().encode()).hexdigest()[:12]


@dataclass
class RateLimiter:
    """Sliding 1-hour window per organization (`usage_tracking.py:58-93`)."""

    quotas: dict[str, int] = field(default_factory=lambda: dict(DEFAULT_QUOTAS))
    window_seconds: int = 3600
    _events: dict[str, deque] = field(default_factory=lambda: defaultdict(deque))

    def check(self, org: str, org_type: str = "public", now: float | None = None) -> bool:
        now = now if now is not None else time.time()
        q = self._events[org]
        while q and q[0] <= now - self.window_seconds:
            q.popleft()
        if len(q) >= self.quotas.get(org_type, self.quotas["public"]):
            return False
        q.append(now)
        return True


@dataclass
class _CacheEntry:
    df: DataFrame
    expires_at: float


class QueryEngine:
    """SQL entry point with middleware. Usage: register views (or build a
    ModelRegistry DAG), then ``engine.sql("select ...", org="x")``."""

    def __init__(
        self, spark: SparkSession, cache_ttl_seconds: int = 300, governance=None
    ) -> None:
        self.spark = spark
        self.cache_ttl = cache_ttl_seconds
        self.rate_limiter = RateLimiter()
        self.usage_log: list[dict] = []
        self._cache: dict[str, _CacheEntry] = {}
        #: optional GovernanceLog (`lineage.py`): data-access compliance
        #: events per served query + rate-limit denials, the reference's
        #: federal-compliance usage logging at the query boundary
        #: (`utils/usage_tracking.py`, `macros/log_federal_compliance_event.sql`)
        self.governance = governance

    def sql(
        self,
        query: str,
        org: str = "anonymous",
        org_type: str = "public",
        use_cache: bool = True,
        now: float | None = None,
    ) -> DataFrame:
        now = now if now is not None else time.time()
        fp = fingerprint_query(query)
        if not self.rate_limiter.check(org, org_type, now):
            if self.governance is not None:
                self.governance.compliance_event(
                    "rate_limit_denied", f"query:{fp}", f"org={org} type={org_type}"
                )
            # denied requests are still usage (`usage_metrics.sql` computes a
            # success RATE, so the log must carry failures too)
            self.usage_log.append(
                {
                    "org": org,
                    "type": classify_query(query),
                    "fingerprint": fp,
                    "at": now,
                    "ok": False,
                    "elapsed_ms": 0.0,
                }
            )
            raise PermissionError(f"rate limit exceeded for organization {org}")
        entry = {
            "org": org,
            "type": classify_query(query),
            "fingerprint": fp,
            "at": now,
            "ok": True,
            "elapsed_ms": 0.0,
        }
        self.usage_log.append(entry)
        if self.governance is not None:
            self.governance.compliance_event(
                "data_access", f"query:{fp}", f"org={org} type={org_type} class={classify_query(query)}"
            )
        t0 = time.perf_counter()
        try:
            if use_cache:
                hit = self._cache.get(fp)
                if hit and hit.expires_at > now:
                    if not hit.df.is_cached:
                        # admitted on its second request: the first one stored
                        # the plain frame, this one pins a new frame before it
                        # runs, later ones read memory. The cost is one extra
                        # uncached execution per fingerprint.
                        hit.df = self.spark.sql(query).cache()
                    return hit.df
                if hit:
                    # expired but not yet swept: release its pin before the
                    # entry is overwritten, or nothing would own it
                    self.evict_expired(now)
            df = self.spark.sql(query)
            if use_cache:
                self._cache[fp] = _CacheEntry(df, now + self.cache_ttl)
            return df
        except Exception:
            entry["ok"] = False
            raise
        finally:
            # serving latency (analysis/plan build; execution is lazy) — the
            # field api_performance aggregates into its percentile buffers
            entry["elapsed_ms"] = (time.perf_counter() - t0) * 1000.0

    def warm(self, queries: list[str], now: float | None = None) -> None:
        """Pre-populate the cache (`public_resources.py:537-599` warm list).
        Warm queries are known to be hot, so they are admitted at once."""
        for q in queries:
            df = self.sql(q, org="cache-warmer", now=now)
            if not df.is_cached:
                df.cache()  # a miss returns the stored frame before it runs
            df.count()

    def evict_expired(self, now: float | None = None) -> int:
        now = now if now is not None else time.time()
        dead = [k for k, v in self._cache.items() if v.expires_at <= now]
        for k in dead:
            try:
                self._cache[k].df.unpersist()
            except Exception:
                pass
            del self._cache[k]
        return len(dead)
