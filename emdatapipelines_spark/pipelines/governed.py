"""One governed production run (VERDICT r10 stretch #7): the whole engine
working as a single pipeline — staging → marts (including the
`graph_edges` / `doc_shingles` MV roots) → metrics → public — with the
governance surfaces the reference wires around its dbt DAG all enabled:

- lineage:   every model build emits a lineage record
  (`lineage.GovernanceLog` ≈ `macros/create_data_lineage_record.sql`)
- quality gates: dbt-style not-null / unique / accepted-range tests on
  the staging layer; a failing gate marks the run ``gate_status=fail``
  (≈ `dbt test` + `sensors/error_sensors.py`)
- retention: S13 keep-filter rewrite on the alert stream with a
  compliance event (≈ `jobs/public_jobs.py:309-356`)
- SCD2:      timestamp-strategy snapshot of declaration state with hard
  deletes (≈ `snapshots/disaster_declarations_snapshot.sql`)

The model DAG is built concurrently (`plans/registry.py`). The report's
actions — the quality-gate collect, the retention and SCD2 counts and the
``REPORT_TABLES`` counts — are independent reads of frames that are already
built, so they are submitted together to the same kind of driver pool. Each
lands under its own report key, so the report does not depend on which
action finishes first.

`run_governed_pipeline` returns a JSON-able run report;
`scripts/run_governed_pipeline.py` executes it at sf1 and commits the
report (GOVERNED_RUN.json), and `tests/test_governed_run.py` pins the
invariants at sf0.01.
"""

from __future__ import annotations

import time
from datetime import datetime

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession, functions as F

from ..audit import retention_filter
from ..clock import DEFAULT_CLOCK
from ..lineage import GovernanceLog
from ..operators.scd2 import scd2_init, scd2_merge
from ..plans.graph_marts import register_graph_marts
from ..plans.registry import ModelRegistry, driver_pool
from ..plans.text_marts import register_text_marts
from ..quality.dbt_tests import (
    TestCase,
    run_test_suite,
    test_accepted_range,
    test_not_null,
    test_unique,
)
from .emergency import build_emergency_dag

#: models force-materialized and row-counted in the report (the "serving
#: layer" a reference user reads)
REPORT_TABLES = (
    "public_disasters",
    "public_region_stats",
    "disaster_analytics",
    "data_quality_metrics",
    "graph_edges",
    "trade_edges",
    "doc_shingles",
    "text_lsh_candidates",
    "graph_pagerank",
)


def run_governed_pipeline(
    spark: SparkSession,
    sf_dir: str,
    now: datetime | None = None,
    retention_days: int = 21,
) -> dict:
    """Build the composed DAG once under governance and return the run
    report. ``now`` feeds the scheduler state (injectable clock — the
    engine never reads the wall clock); wall time is measured around the
    whole run."""
    now = now or DEFAULT_CLOCK.py_timestamp()
    gov = GovernanceLog()
    reg = ModelRegistry(governance=gov)
    build_emergency_dag(spark, sf_dir, registry=reg)
    register_graph_marts(reg, sf_dir)
    register_text_marts(reg, sf_dir)

    wall0 = time.perf_counter()
    reg.build(spark, now=now)

    # quality gates on the staging layer (dbt test analog); a failing gate
    # marks the whole run failed
    stg_d = reg.results["stg_declarations"]
    stg_a = reg.results["stg_alerts"]
    gate_suite = run_test_suite(
        [
            TestCase("stg_declarations.not_null.declaration_id",
                     test_not_null(stg_d, "declaration_id")),
            TestCase("stg_declarations.unique.declaration_id",
                     test_unique(stg_d, "declaration_id")),
            TestCase("stg_declarations.range.region_key",
                     test_accepted_range(stg_d, "region_key", 0, 24)),
            TestCase("stg_alerts.not_null.alert_id",
                     test_not_null(stg_a, "alert_id")),
            TestCase("stg_alerts.range.magnitude",
                     test_accepted_range(stg_a, "magnitude", 0.0, 1e9)),
        ]
    )

    # retention (S13): rewrite the alert staging table to the keep window,
    # recording the compliance event
    kept_alerts = retention_filter(
        stg_a,
        "alert_date",
        retention_days,
        governance=gov,
        table_name="stg_alerts",
    )

    # SCD2 (timestamp strategy + hard deletes): day-1 snapshot of the
    # declaration state, then merge the "next day" slice — cost changes
    # close the old version, vanished declarations hard-invalidate
    decls = stg_d.select(
        "declaration_id",
        "incident_type",
        F.col("estimated_cost").cast("double").alias("estimated_cost"),
        F.col("declaration_date").cast("timestamp").alias("updated_at"),
    )
    snap = scd2_init(decls.filter(F.col("declaration_id") % 7 != 0), "updated_at")
    day2 = decls.filter(F.col("declaration_id") % 3 != 0).withColumn(
        "estimated_cost", F.col("estimated_cost") * 1.1
    ).withColumn("updated_at", F.col("updated_at") + F.expr("INTERVAL 1 DAY"))
    merged = scd2_merge(snap, day2, key="declaration_id", updated_at="updated_at")

    # every action at once; the report tables' counts force-materialize
    # the serving layer
    actions = {
        "gates": gate_suite.collect,
        "n_alerts": stg_a.count,
        "n_kept": kept_alerts.count,
        "scd2_rows": merged.count,
        "scd2_current": merged.filter(F.col("is_current")).count,
    }
    report_tables = [name for name in REPORT_TABLES if name in reg.results]
    for name in report_tables:
        actions[name] = reg.results[name].count
    with driver_pool(spark) as pool:
        futures = {
            key: pool.submit(inheritable_thread_target(spark)(action))
            for key, action in actions.items()
        }
    out = {key: fut.result() for key, fut in futures.items()}
    gates = out["gates"]
    gate_failures = [r["test_name"] for r in gates if r["status"] == "fail"]
    n_alerts, n_kept = out["n_alerts"], out["n_kept"]
    table_counts = {name: out[name] for name in report_tables}

    wall = round(time.perf_counter() - wall0, 2)
    lineage = gov.lineage_df(spark)
    compliance = gov.compliance_df(spark)
    return {
        "sf_dir": sf_dir,
        "wall_sec": wall,
        "n_models": len(reg.topo_order()),
        "gate_status": "fail" if gate_failures else "pass",
        "gate_results": {r["test_name"]: r["status"] for r in gates},
        "gate_failures": gate_failures,
        "retention": {
            "window_days": retention_days,
            "rows_before": n_alerts,
            "rows_kept": n_kept,
            "rows_purged": n_alerts - n_kept,
        },
        "scd2": {"snapshot_rows": out["scd2_rows"], "current_rows": out["scd2_current"]},
        "table_counts": table_counts,
        "lineage_records": lineage.count(),
        "compliance_events": compliance.count(),
    }
