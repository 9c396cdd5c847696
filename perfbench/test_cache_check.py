"""Tests for the refresh_serve cache check: ``python3 -m pytest perfbench -q``.

The check must compare a cached response with the SQL computed afresh,
not with Spark's cached relation for the same plan. A stale entry is
made with a view whose rows depend on a file the cache does not watch.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from refresh_serve import cache_mismatches  # noqa: E402

SQL = "SELECT shifted(id) AS v FROM nums"


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[1]")
        .appName("perfbench-cache-check")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture
def offset(spark, tmp_path):
    """A view ``nums`` whose values are ``id`` plus the number in a file."""
    path = tmp_path / "offset"
    path.write_text("0")
    name = str(path)
    spark.udf.register("shifted", lambda x: x + int(open(name).read()), "bigint")
    spark.range(5).createOrReplaceTempView("nums")
    return path


def _request(engine, served: list[dict]) -> None:
    """One request the way the serve loop makes it."""
    seen = {e["fingerprint"] for e in engine.usage_log}
    rows = engine.sql(SQL).collect()
    served.append({"sql": SQL, "hit": engine.usage_log[-1]["fingerprint"] in seen, "rows": rows})


def test_cache_that_matches_its_source_passes(spark, offset):
    from emdatapipelines_spark.api import QueryEngine

    engine, served = QueryEngine(spark), []
    _request(engine, served)
    _request(engine, served)
    assert [s["hit"] for s in served] == [False, True]
    assert cache_mismatches(spark, engine, served) == 0


def test_stale_cache_entry_fails(spark, offset):
    from emdatapipelines_spark.api import QueryEngine

    engine, served = QueryEngine(spark), []
    _request(engine, served)  # computed and cached with offset 0
    offset.write_text("100")  # the source moves on; the cached rows do not
    _request(engine, served)
    assert served[1]["hit"] and served[1]["rows"] == served[0]["rows"]
    # the same SQL is answered from the cached relation while it is cached,
    # so comparing with it would pass
    assert spark.sql(SQL).collect() == served[1]["rows"]
    assert cache_mismatches(spark, engine, served) == 1
