"""Model-registry DAG semantics (dbt build analog): topo order, selective
builds, MV refresh, cycle detection.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from emdatapipelines_spark.plans.registry import Model, ModelRegistry


def _dag(spark):
    reg = ModelRegistry()

    @reg.model("src_nums")
    def src_nums(s, deps):
        return s.range(10).withColumnRenamed("id", "n")

    @reg.model("stg_even", deps=["src_nums"], materialization="table")
    def stg_even(s, deps):
        return deps["src_nums"].filter(F.col("n") % 2 == 0)

    @reg.model("mart_sum", deps=["stg_even"])
    def mart_sum(s, deps):
        return deps["stg_even"].agg(F.sum("n").alias("total"))

    return reg


def test_build_topo_and_views(spark):
    reg = _dag(spark)
    results = reg.build(spark)
    assert set(results) == {"src_nums", "stg_even", "mart_sum"}
    assert results["mart_sum"].first()["total"] == 20
    # every model is queryable as a temp view (the dbt ref()/source() analog)
    assert spark.sql("SELECT COUNT(*) AS c FROM stg_even").first()["c"] == 5


def test_materialized_names_public_accessor(spark):
    # r11 ADVICE: harnesses force-materialize the cached layer through this
    # instead of iterating private ``_models`` state
    reg = _dag(spark)
    assert reg.materialized_names() == ["stg_even"]


def test_selective_build_pulls_deps(spark):
    reg = _dag(spark)
    results = reg.build(spark, select=["mart_sum"])
    assert "src_nums" in results and "mart_sum" in results


def test_refresh_materialized(spark):
    reg = _dag(spark)
    reg.build(spark)
    refreshed = reg.refresh_materialized(spark, "stg_even")
    assert refreshed.count() == 5


def test_stale_read_warns(spark):
    """VERDICT r11 stretch #7: a consumer reading results[] between cron
    ticks gets a StaleModelWarning when the model's refresh_interval has
    elapsed under the injected read clock."""
    import warnings
    from datetime import datetime, timedelta

    from emdatapipelines_spark.plans.registry import StaleModelWarning

    reg = ModelRegistry()  # default policy: warn

    @reg.model("mv_counts", materialization="table",
               refresh_interval=timedelta(minutes=5))
    def mv_counts(s, deps):
        return s.range(5).agg(F.count("*").alias("c"))

    t0 = datetime(2024, 1, 1, 12, 0)
    reg.build(spark, now=t0)
    reg.now_provider = lambda: t0 + timedelta(minutes=1)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # fresh read must NOT warn
        assert reg.results["mv_counts"].first()["c"] == 5
    reg.now_provider = lambda: t0 + timedelta(minutes=9)
    with pytest.warns(StaleModelWarning, match="mv_counts"):
        reg.results["mv_counts"]


def test_stale_read_rebuilds_under_policy(spark):
    from datetime import datetime, timedelta

    reg = ModelRegistry(stale_policy="rebuild")
    builds = []

    @reg.model("mv_live", materialization="table",
               refresh_interval=timedelta(minutes=5))
    def mv_live(s, deps):
        builds.append(1)
        return s.range(3).agg(F.count("*").alias("c"))

    t0 = datetime(2024, 1, 1, 12, 0)
    reg.build(spark, now=t0)
    assert len(builds) == 1
    stale_t = t0 + timedelta(minutes=30)
    reg.now_provider = lambda: stale_t
    df = reg.results["mv_live"]  # stale read → rebuilt inline
    assert len(builds) == 2
    assert df.first()["c"] == 3
    assert reg.last_built["mv_live"] == stale_t
    # the rebuild stamped last_built, so the next read is fresh: no rebuild
    reg.results["mv_live"]
    assert len(builds) == 2


def test_internal_build_reads_bypass_guard(spark):
    """Dep reads inside build()/refresh_materialized are not consumer
    reads — the guard must not warn or recurse there."""
    import warnings
    from datetime import datetime, timedelta

    reg = ModelRegistry()

    @reg.model("root", materialization="table",
               refresh_interval=timedelta(minutes=1))
    def root(s, deps):
        return s.range(4).withColumnRenamed("id", "n")

    @reg.model("child", deps=["root"])
    def child(s, deps):
        return deps["root"].agg(F.sum("n").alias("t"))

    t0 = datetime(2024, 1, 1)
    reg.build(spark, now=t0)
    reg.now_provider = lambda: t0 + timedelta(hours=1)  # root long stale
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        # run_due/refresh paths read deps internally — must stay silent
        reg.run_due(spark, t0 + timedelta(hours=1))


def test_cycle_detection(spark):
    reg = ModelRegistry()
    reg.register(Model("a", lambda s, d: s.range(1), deps=["b"]))
    reg.register(Model("b", lambda s, d: s.range(1), deps=["a"]))
    with pytest.raises(ValueError, match="cycle"):
        reg.topo_order()


def test_scheduled_refresh_loop(spark):
    """Cron-tick semantics (reference `definitions.py:84-94`: 10-min ingest /
    5-min MV refresh): a tick rebuilds exactly the models whose interval has
    elapsed — stale rebuilt, fresh skipped — against an injected clock."""
    from datetime import datetime, timedelta

    builds = {"ingest": 0, "mv": 0}
    reg = ModelRegistry()

    @reg.model("ingest", refresh_interval=timedelta(minutes=10))
    def ingest(s, deps):
        builds["ingest"] += 1
        return s.range(5).withColumnRenamed("id", "n")

    @reg.model("mv", deps=["ingest"], materialization="table",
               refresh_interval=timedelta(minutes=5))
    def mv(s, deps):
        builds["mv"] += 1
        return deps["ingest"].agg(F.sum("n").alias("total"))

    t0 = datetime(2024, 2, 1, 0, 0, 0)
    reg.build(spark, now=t0)
    assert builds == {"ingest": 1, "mv": 1}

    # +5 min: only the MV is due; the 10-min ingest is still fresh
    ran = reg.run_due(spark, t0 + timedelta(minutes=5))
    assert ran == ["mv"] and builds == {"ingest": 1, "mv": 2}

    # +4 more min: nothing due — the loop must not busy-rebuild
    assert reg.run_due(spark, t0 + timedelta(minutes=9)) == []
    assert builds == {"ingest": 1, "mv": 2}

    # +10 min: both due, rebuilt in dependency order, results stay correct
    ran = reg.run_due(spark, t0 + timedelta(minutes=10))
    assert ran == ["ingest", "mv"] and builds == {"ingest": 2, "mv": 3}
    assert reg.results["mv"].first()["total"] == 10


def test_run_due_cascades_to_built_dependents(spark):
    """r10 ADVICE: a refreshed root invalidates built downstream models —
    run_due must rebuild the transitive dependents (in dependency order),
    not leave them serving results computed against the unpersisted old
    cache. Never-built models stay on-demand."""
    from datetime import datetime, timedelta

    builds = {"root": 0, "mid": 0, "leaf": 0, "never_built": 0}
    reg = ModelRegistry()

    @reg.model("root", materialization="table",
               refresh_interval=timedelta(minutes=5))
    def root(s, deps):
        builds["root"] += 1
        return s.range(4).withColumnRenamed("id", "n")

    @reg.model("mid", deps=["root"], materialization="table")
    def mid(s, deps):
        builds["mid"] += 1
        return deps["root"].filter(F.col("n") % 2 == 0)

    @reg.model("leaf", deps=["mid"])
    def leaf(s, deps):
        builds["leaf"] += 1
        return deps["mid"].agg(F.sum("n").alias("total"))

    @reg.model("never_built", deps=["root"])
    def never_built(s, deps):
        builds["never_built"] += 1
        return deps["root"]

    t0 = datetime(2024, 2, 1)
    reg.build(spark, select=["leaf"], now=t0)
    assert builds == {"root": 1, "mid": 1, "leaf": 1, "never_built": 0}

    ran = reg.run_due(spark, t0 + timedelta(minutes=6))
    # root due; mid/leaf cascade because they were built on it; the
    # never-built dependent is NOT pulled in
    assert ran == ["root", "mid", "leaf"]
    assert builds == {"root": 2, "mid": 2, "leaf": 2, "never_built": 0}
    assert reg.results["leaf"].first()["total"] == 2


def test_ancestry_stale_read_warns_on_fresh_child(spark):
    """VERDICT r12 #3: a consumer reading a DERIVED model (no interval of
    its own) over a stale interval-carrying root must be warned — a fresh
    child over a stale root is stale data with a recent timestamp."""
    import warnings
    from datetime import datetime, timedelta

    from emdatapipelines_spark.plans.registry import StaleModelWarning

    reg = ModelRegistry()  # warn policy

    @reg.model("anc_root", materialization="table",
               refresh_interval=timedelta(minutes=5))
    def anc_root(s, deps):
        return s.range(6).withColumnRenamed("id", "n")

    @reg.model("anc_mid", deps=["anc_root"], materialization="table")
    def anc_mid(s, deps):
        return deps["anc_root"].filter(F.col("n") % 2 == 0)

    @reg.model("anc_child", deps=["anc_mid"])
    def anc_child(s, deps):
        return deps["anc_mid"].agg(F.sum("n").alias("t"))

    t0 = datetime(2024, 1, 1, 12, 0)
    reg.build(spark, now=t0)
    reg.now_provider = lambda: t0 + timedelta(minutes=1)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # fresh chain: silent
        assert reg.results["anc_child"].first()["t"] == 6
    reg.now_provider = lambda: t0 + timedelta(minutes=9)
    # the warning names the stale ANCESTOR, read through two hops
    with pytest.warns(StaleModelWarning, match="anc_root"):
        reg.results["anc_child"]


def test_ancestry_stale_read_rebuilds_root_chain(spark):
    """VERDICT r12 #3 rebuild leg: under stale_policy='rebuild', a read of
    a fresh child over a stale root refreshes the ROOT first, then the
    built intermediates down to the child (dependency order), and serves
    data derived from the rebuilt root — not a rebuilt child over stale
    cached deps."""
    from datetime import datetime, timedelta

    reg = ModelRegistry(stale_policy="rebuild")
    build_log = []
    source_rows = {"v": 4}  # mutable "upstream system"

    @reg.model("rb_root", materialization="table",
               refresh_interval=timedelta(minutes=5))
    def rb_root(s, deps):
        build_log.append("rb_root")
        return s.range(source_rows["v"]).withColumnRenamed("id", "n")

    @reg.model("rb_mid", deps=["rb_root"], materialization="table")
    def rb_mid(s, deps):
        build_log.append("rb_mid")
        return deps["rb_root"]

    @reg.model("rb_child", deps=["rb_mid"])
    def rb_child(s, deps):
        build_log.append("rb_child")
        return deps["rb_mid"].agg(F.count("*").alias("c"))

    t0 = datetime(2024, 1, 1, 12, 0)
    reg.build(spark, now=t0)
    assert reg.results["rb_child"].first()["c"] == 4
    build_log.clear()

    source_rows["v"] = 9  # upstream changed; cached root is now wrong
    stale_t = t0 + timedelta(minutes=30)
    reg.now_provider = lambda: stale_t
    df = reg.results["rb_child"]
    # rebuilt in dependency order, root first, down to the accessed model
    assert build_log == ["rb_root", "rb_mid", "rb_child"]
    # and the served frame reflects the REBUILT root
    assert df.first()["c"] == 9
    assert reg.last_built["rb_root"] == stale_t
    # chain is now fresh: the next read rebuilds nothing
    build_log.clear()
    assert reg.results["rb_child"].first()["c"] == 9
    assert build_log == []


def test_ancestry_guard_rebuild_cascades_to_built_siblings(spark):
    """The read-triggered rebuild reuses refresh_due's cascade: refreshing
    a stale root re-stamps it, so every BUILT dependent must rebuild with
    it — a sibling left on its old cached frame would serve stale data
    with no staleness signal left. Never-built models stay on-demand, and
    the cascade fires exactly once (everything stamped at the tick)."""
    from datetime import datetime, timedelta

    reg = ModelRegistry(stale_policy="rebuild")
    build_log = []

    @reg.model("sc_root", materialization="table",
               refresh_interval=timedelta(minutes=5))
    def sc_root(s, deps):
        build_log.append("sc_root")
        return s.range(3).withColumnRenamed("id", "n")

    @reg.model("sc_a", deps=["sc_root"])
    def sc_a(s, deps):
        build_log.append("sc_a")
        return deps["sc_root"]

    @reg.model("sc_b", deps=["sc_root"])
    def sc_b(s, deps):
        build_log.append("sc_b")
        return deps["sc_root"]

    @reg.model("sc_never_built", deps=["sc_root"])
    def sc_never_built(s, deps):
        build_log.append("sc_never_built")
        return deps["sc_root"]

    t0 = datetime(2024, 1, 1)
    reg.build(spark, now=t0, select=["sc_a", "sc_b"])
    build_log.clear()
    reg.now_provider = lambda: t0 + timedelta(hours=1)
    reg.results["sc_a"]
    # root + BOTH built siblings rebuilt (dependency order); the
    # never-built model stays on-demand
    assert build_log == ["sc_root", "sc_a", "sc_b"]
    # exactly once: subsequent reads of either sibling rebuild nothing
    build_log.clear()
    reg.results["sc_b"]
    reg.results["sc_a"]
    assert build_log == []


def test_ancestry_guard_fresh_path_is_identity(spark):
    """Guard cost on the fresh path is ~zero by construction: when nothing
    on the chain is stale, results[] hands back the SAME DataFrame object
    — pure dict lookups, no Spark work (VERDICT r12 #6c)."""
    from datetime import datetime, timedelta

    reg = ModelRegistry(stale_policy="rebuild")

    @reg.model("id_root", materialization="table",
               refresh_interval=timedelta(minutes=5))
    def id_root(s, deps):
        return s.range(3).withColumnRenamed("id", "n")

    @reg.model("id_child", deps=["id_root"])
    def id_child(s, deps):
        return deps["id_root"]

    t0 = datetime(2024, 1, 1)
    reg.build(spark, now=t0)
    unguarded = dict.__getitem__(reg.results, "id_child")
    reg.now_provider = lambda: t0 + timedelta(minutes=1)
    assert reg.results["id_child"] is unguarded
    assert reg.results["id_root"] is dict.__getitem__(reg.results, "id_root")


def test_staleness_guard_in_mart_serving_path(spark):
    """VERDICT r12 #6: the guard exercised against the REAL text-mart DAG
    (not a toy registry) — fresh serves are identity (no rebuild), the
    first stale read rebuilds the chain exactly once, repeat reads rebuild
    nothing, and post-rebuild consumer rows are byte-identical on
    unchanged input. scripts/bench_marts.py carries the timing twin
    (stale_guard column) at sf0.1/sf1."""
    from datetime import datetime, timedelta

    from emdatapipelines_spark.cachectl import release_tracked
    from emdatapipelines_spark.plans.text_marts import register_text_marts

    SF_SMALL = "/root/testdata/sf0.001"
    reg = ModelRegistry(stale_policy="rebuild")
    register_text_marts(reg, SF_SMALL)
    t0 = datetime(2024, 1, 1, 12, 0)
    reg.build(spark, now=t0)
    for name in reg.materialized_names():
        reg.results[name].count()

    calls: list[str] = []
    orig = reg.refresh_materialized

    def counting(s, n, now=None):
        calls.append(n)
        return orig(s, n, now=now)

    reg.refresh_materialized = counting

    # fresh path: identity, zero rebuilds
    reg.now_provider = lambda: t0 + timedelta(minutes=1)
    assert reg.results["text_jaccard_pairs"] is dict.__getitem__(
        reg.results, "text_jaccard_pairs"
    )
    assert calls == []
    before = sorted(map(repr, reg.results["text_jaccard_pairs"].collect()))

    # stale read: rebuild fires once, covering the stale roots
    reg.now_provider = lambda: t0 + timedelta(minutes=30)
    after = sorted(map(repr, reg.results["text_jaccard_pairs"].collect()))
    assert "doc_shingles" in calls and "text_jaccard_pairs" in calls
    first_count = len(calls)
    assert first_count >= 2
    # byte-identical on unchanged fixtures
    assert after == before
    # exactly once: another consumer read rebuilds nothing further
    reg.results["text_lsh_candidates"].collect()
    reg.results["text_jaccard_pairs"].collect()
    assert len(calls) == first_count
    release_tracked()
    spark.catalog.clearCache()


# -- concurrent build: the DAG walk on the driver pool ------------------------


def _traced_dag(deps: dict[str, list[str]], sleeps=None):
    """A registry over ``deps`` whose fns record ("start"/"end", name)
    events and sleep ``sleeps[name]`` seconds in between."""
    import threading
    import time

    events: list[tuple[str, str]] = []
    sleeps = sleeps or {}
    lock = threading.Lock()
    reg = ModelRegistry()

    def fn(s, d, _name):
        with lock:
            events.append(("start", _name))
        time.sleep(sleeps.get(_name, 0.0))
        df = s.range(3).withColumnRenamed("id", _name)
        with lock:
            events.append(("end", _name))
        return df

    for i, (name, ds) in enumerate(deps.items()):
        reg.register(
            Model(name, lambda s, d, _n=name: fn(s, d, _n), ds,
                  "table" if i % 2 == 0 else "view")
        )
    return reg, events


DIAMOND = {"a": [], "b": ["a"], "c": ["a"], "d": ["b", "c"]}


def _wide_dag(n: int = 24, seed: int = 7) -> dict[str, list[str]]:
    import random

    rng = random.Random(seed)
    deps: dict[str, list[str]] = {}
    for i in range(n):
        earlier = list(deps)
        deps[f"m{i:02d}"] = rng.sample(earlier, min(len(earlier), rng.randint(0, 2)))
    return deps


@pytest.mark.parametrize("shape", ["diamond", "wide"])
def test_concurrent_build_starts_model_after_its_deps(spark, shape):
    """No fn() starts before every dependency's fn() has returned, and each
    runs once. The wide DAG runs more builders than cores with a short
    thread switch interval."""
    import sys

    if shape == "diamond":
        deps, sleeps = DIAMOND, {"a": 0.1, "b": 0.2, "c": 0.05}
    else:
        deps, sleeps = _wide_dag(), {}
    reg, events = _traced_dag(deps, sleeps)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        reg.build(spark)
    finally:
        sys.setswitchinterval(interval)
    pos = {ev: i for i, ev in enumerate(events)}
    assert len(events) == len(pos) == 2 * len(deps)
    for name, ds in deps.items():
        for dep in ds:
            assert pos[("end", dep)] < pos[("start", name)], (name, dep, events)


def test_concurrent_build_overlaps_independent_siblings(spark):
    """b and c each wait for the other at a barrier: a walk that builds one
    model at a time times out here."""
    import threading

    barrier = threading.Barrier(2, timeout=10)

    def sibling(s, d):
        barrier.wait()  # returns only once the other sibling is running too
        return d["a"]

    reg = ModelRegistry()
    reg.register(Model("a", lambda s, d: s.range(2)))
    reg.register(Model("b", sibling, deps=["a"]))
    reg.register(Model("c", sibling, deps=["a"]))
    reg.build(spark)
    assert set(reg.results) == {"a", "b", "c"}


def test_concurrent_build_failure_stops_dependents(spark):
    import threading
    import time

    called: list[str] = []

    def boom(s, d):
        raise ValueError("model a failed")

    def child(s, d):
        called.append("child")
        return d["a"]

    def sibling(s, d):
        time.sleep(0.3)
        called.append("sibling")
        return s.range(1)

    reg = ModelRegistry()
    reg.register(Model("a", boom))
    reg.register(Model("child", child, deps=["a"]))
    reg.register(Model("sibling", sibling))
    before = set(threading.enumerate())
    with pytest.raises(ValueError, match="model a failed"):
        reg.build(spark)
    assert called == ["sibling"]  # the running sibling finished; child never ran
    assert "sibling" in reg.results and "a" not in reg.results
    assert "child" not in reg.results
    leftover = [
        t for t in threading.enumerate()
        if t not in before and t.name.startswith("ThreadPoolExecutor")
    ]
    assert leftover == []


def test_concurrent_build_commits_in_topo_order(spark):
    """Lineage rows and ``last_built`` equal a sequential build's, whatever
    order the models finish in (here the first branch finishes last)."""
    from datetime import datetime

    from emdatapipelines_spark.lineage import GovernanceLog

    gov = GovernanceLog()
    reg, _ = _traced_dag(DIAMOND, sleeps={"b": 0.4})
    reg.governance = gov
    reg.register(Model("e", lambda s, d: s.range(1)))  # independent, fast
    now = datetime(2024, 3, 1)
    reg.build(spark, now=now)

    seq = GovernanceLog(run_id=gov.run_id)
    for name in reg.topo_order():
        m = reg._models[name]
        seq.lineage_record(m.deps, name, m.materialization)

    def strip(rows):  # drop the timestamp column
        return [r[:4] + r[5:] for r in rows]

    assert strip(gov.lineage_rows) == strip(seq.lineage_rows)
    assert list(reg.last_built.items()) == [(n, now) for n in reg.topo_order()]
    assert list(reg.results) == reg.topo_order()


def test_concurrent_build_jobs_carry_group_and_model_tag(spark):
    """Jobs launched inside a model's fn() run under the caller's job group
    and carry the description ``model <name>``."""
    import uuid

    sc = spark.sparkContext
    reg = ModelRegistry()
    for name in ("eager_x", "eager_y"):
        def fn(s, d, _n=name):
            s.range(5).count()  # an eager job inside the build
            return s.range(1)

        reg.register(Model(name, fn))
    group = f"registry-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "caller")
    try:
        reg.build(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    ids = sc.statusTracker().getJobIdsForGroup(group)
    store = sc._jsc.sc().statusStore()
    tags = {store.job(j).description().get() for j in ids}
    assert tags == {"model eager_x", "model eager_y"}
