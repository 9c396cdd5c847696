"""Public query API middleware: rate limiting, usage logging, TTL cache
(SURVEY §3.3 read path).
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark import StorageLevel

from emdatapipelines_spark.api import (
    QueryEngine,
    RateLimiter,
    classify_query,
    fingerprint_query,
)


def test_rate_limiter_sliding_window():
    rl = RateLimiter(quotas={"public": 3})
    t0 = 1000.0
    assert all(rl.check("org1", "public", t0 + i) for i in range(3))
    assert not rl.check("org1", "public", t0 + 3)          # quota exhausted
    assert rl.check("org2", "public", t0 + 3)              # per-org isolation
    assert rl.check("org1", "public", t0 + 3601)           # window slides


def test_classify_and_fingerprint():
    assert classify_query("SELECT * FROM disaster_events") == "disaster_query"
    assert classify_query("select 1") == "select_query"
    # fingerprint is whitespace/case insensitive
    assert fingerprint_query("SELECT  1") == fingerprint_query("select 1")
    assert fingerprint_query("select 1") != fingerprint_query("select 2")


def test_engine_sql_cache_and_quota(spark):
    eng = QueryEngine(spark, cache_ttl_seconds=300)
    eng.rate_limiter = RateLimiter(quotas={"public": 5})
    t0 = 5000.0

    spark.range(10).createOrReplaceTempView("api_test_tbl")
    df1 = eng.sql("SELECT COUNT(*) AS n FROM api_test_tbl", org="o", now=t0)
    assert df1.collect()[0]["n"] == 10
    # a first request is not admitted: nothing is pinned for it
    assert df1.storageLevel == StorageLevel.NONE
    # the second request admits the query with a frame pinned before it runs
    # (df1 has run, so its plan no longer changes); the third gets that frame
    df2 = eng.sql("select   count(*) as n from api_test_tbl", org="o", now=t0 + 1)
    assert df2 is not df1
    assert df2.is_cached and df2.storageLevel != StorageLevel.NONE
    assert df2.first()["n"] == 10
    assert eng.sql("SELECT COUNT(*) AS n FROM api_test_tbl", org="o", now=t0 + 2) is df2
    assert len(eng.usage_log) == 3

    # warm queries are admitted at once
    eng.warm(["SELECT MAX(id) AS m FROM api_test_tbl"], now=t0 + 2)
    warmed = eng._cache[fingerprint_query("SELECT MAX(id) AS m FROM api_test_tbl")].df
    assert warmed.storageLevel != StorageLevel.NONE
    once = eng.sql("SELECT MIN(id) AS m FROM api_test_tbl", org="o", now=t0 + 3)
    assert once.storageLevel == StorageLevel.NONE

    # TTL expiry evicts admitted and unadmitted entries and unpins them
    assert eng.evict_expired(now=t0 + 304) == 3
    assert not eng._cache
    assert df2.storageLevel == StorageLevel.NONE
    assert warmed.storageLevel == StorageLevel.NONE
    df3 = eng.sql("SELECT COUNT(*) AS n FROM api_test_tbl", org="o", now=t0 + 305)
    assert df3 is not df2

    # rate limit raises once quota is burned
    with pytest.raises(PermissionError):
        for i in range(10):
            eng.sql("SELECT 1 AS one", org="greedy", now=t0 + 10 + i)


def test_engine_ttl_replacement_releases_old_pin(spark):
    eng = QueryEngine(spark, cache_ttl_seconds=300)
    t0 = 7000.0
    spark.range(7).createOrReplaceTempView("api_pin_tbl")
    sql = "SELECT SUM(id) AS s FROM api_pin_tbl"
    eng.sql(sql, now=t0).collect()
    old = eng.sql(sql, now=t0 + 1)  # admitted
    old.collect()
    assert old.storageLevel != StorageLevel.NONE
    # expired, and evict_expired has not run: the request replaces the entry
    new = eng.sql(sql, now=t0 + 301)
    assert new is not old
    assert new.collect()[0]["s"] == 21
    assert old.storageLevel == StorageLevel.NONE
    assert len(eng._cache) == 1


def test_serve_check_catches_stale_admitted_entry(spark, tmp_path):
    """The ``refresh_serve`` benchmark's ``cached_equals_uncached`` check
    (``perfbench/refresh_serve.py`` ``cache_mismatches``) still catches a
    stale entry when results are pinned on their second request: the third
    request reads the rows the second one pinned."""
    perfbench = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
    sys.path.insert(0, perfbench)
    try:
        from refresh_serve import cache_mismatches
    finally:
        sys.path.remove(perfbench)

    offset = tmp_path / "offset"
    offset.write_text("0")
    name = str(offset)
    spark.udf.register("api_shifted", lambda x: x + int(open(name).read()), "bigint")
    spark.range(5).createOrReplaceTempView("api_stale_nums")
    sql = "SELECT api_shifted(id) AS v FROM api_stale_nums"
    eng, served = QueryEngine(spark), []

    def request():
        # one request the way the benchmark's serve loop makes it
        seen = {e["fingerprint"] for e in eng.usage_log}
        rows = eng.sql(sql).collect()
        served.append({"sql": sql, "hit": eng.usage_log[-1]["fingerprint"] in seen, "rows": rows})

    request()  # stored, not pinned
    request()  # pinned with offset 0
    offset.write_text("100")  # the source moves on; the pinned rows do not
    request()
    assert [s["hit"] for s in served] == [False, True, True]
    assert served[2]["rows"] == served[1]["rows"]
    # Spark's cache manager answers the same SQL from the pinned relation
    assert spark.sql(sql).collect() == served[2]["rows"]
    # both hits hold offset-0 rows, which now differ from the SQL run afresh
    assert cache_mismatches(spark, eng, served) == 2
