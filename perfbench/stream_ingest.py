"""Workload ``stream_ingest``: seeded micro-batches drained through the
public streaming entry points, one leg after another.

- events -> ``incremental_rollup`` (versioned mergeable partials);
- documents, plus near-duplicates of documents from earlier batches ->
  ``incremental_dedup_ingest`` (MinHash corpus index; grows every batch);
- lineitem ``(l_orderkey, l_suppkey)`` -> ``cooccurrence_graph_ingest``.

Each leg pre-writes one parquet file per batch and drains them with
``availableNow`` and ``maxFilesPerTrigger=1``. This is the only workload
that writes to disk (``versioned`` commits, streaming checkpoints), and
its state grows as the run goes on. Per-batch latency is the query's own
``triggerExecution`` from ``recentProgress``, so it needs no tracing.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

import inputs
import stats

#: batches per leg, and the fixed (seed-independent) row subsets they cut
ROLLUP_BATCHES = 6
DEDUP_BATCHES = 3
COOC_BATCHES = 3
DOC_EVERY = 40  # documents with doc_id % 40 == 0
NEAR_DUP_EVERY = 7  # of those, doc_id % 7 == 0 get a near-duplicate later
LINE_EVERY = 16  # lineitem rows with l_orderkey % 16 == 0
COOC_MIN_SHARED = 2
NEAR_DUP_ID_BASE = 1_000_000_000

EVENT_SCHEMA = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
DOC_SCHEMA = "doc_id bigint, text string"
LINE_SCHEMA = "l_orderkey bigint, l_suppkey bigint"
ROLLUP_KEYS = ["event_date", "event_type"]
ROLLUP_MEASURES = {"value": "value"}

LEGS = ("rollup", "dedup", "cooccurrence")


def _leg_inputs(sf_dir: str, rng: np.random.Generator) -> dict:
    """Tables per leg in a seeded row order, with their batch cuts:
    {leg: (table, cuts)}."""
    events = pq.read_table(
        os.path.join(sf_dir, "events.parquet"),
        columns=["event_id", "ts", "user_id", "event_type", "value"],
    )
    events = inputs.utc_timestamps(events, "ts")
    docs = inputs.take_every(
        pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]),
        "doc_id",
        DOC_EVERY,
    )
    lines = inputs.take_every(
        pq.read_table(
            os.path.join(sf_dir, "lineitem.parquet"), columns=["l_orderkey", "l_suppkey"]
        ),
        "l_orderkey",
        LINE_EVERY,
    )
    out = {}
    for leg, table, n in (
        ("rollup", events, ROLLUP_BATCHES),
        ("dedup", docs, DEDUP_BATCHES),
        ("cooccurrence", lines, COOC_BATCHES),
    ):
        table = table.take(rng.permutation(table.num_rows))
        cuts = inputs.even_cuts(table.num_rows, n)
        if leg == "dedup":
            table, cuts = inputs.near_duplicates(table, cuts, NEAR_DUP_EVERY, NEAR_DUP_ID_BASE)
        out[leg] = (table, cuts)
    return out


class StreamIngest:
    name = "stream_ingest"
    #: spans whose jobs make up the bulk phase
    bulk_spans = tuple(f"stream.{leg}" for leg in LEGS)
    #: fixture tables to copy in seeded order: none, each leg reorders and
    #: cuts its own input
    tables = ()

    def __init__(self, env) -> None:
        self.env = env
        self.legs: dict[str, dict] = {}
        self.dedup_twin: dict = {}

    # -- set-up ---------------------------------------------------------------
    def setup(self) -> None:
        env = self.env
        rng = np.random.default_rng(env.seed)
        with env.tracer.span("inputs.prepare"):
            for leg, (table, cuts) in _leg_inputs(env.sf_dir, rng).items():
                d = os.path.join(env.work, leg)
                inputs.write_batches(table, os.path.join(d, "in"), cuts)
                self.legs[leg] = {"dir": d, "rows": table.num_rows, "batches": len(cuts) - 1}
        # the warm-up is the dedup leg's batch twin: the same batch files
        # applied in order without a stream, the reference the output check
        # compares the streamed state with
        with env.tracer.span("session.warm"):
            self.dedup_twin = self._dedup_twin()

    def _dedup_twin(self) -> dict:
        from emdatapipelines_spark.streaming.incremental import apply_dedup_index_batch
        from emdatapipelines_spark.versioned import read_versioned

        spark = self.env.spark
        d = self.legs["dedup"]["dir"]
        twin = os.path.join(d, "twin_state")
        n_surv = h_surv = 0
        for k, name in enumerate(sorted(os.listdir(os.path.join(d, "in")))):
            part = spark.read.schema(DOC_SCHEMA).parquet(os.path.join(d, "in", name))
            n, h = _digest(apply_dedup_index_batch(part, k, twin).select("doc_id"))
            n_surv, h_surv = n_surv + n, h_surv + h
        return {"index": _digest(read_versioned(spark, twin)), "survivors": (n_surv, h_surv)}

    def _start(self, leg: str, on_batch=None):
        from emdatapipelines_spark.streaming.incremental import (
            cooccurrence_graph_ingest,
            incremental_dedup_ingest,
            incremental_rollup,
        )
        from pyspark.sql import functions as F

        spark = self.env.spark
        d = self.legs[leg]["dir"]
        p = lambda name: os.path.join(d, name)  # noqa: E731
        schema = {"rollup": EVENT_SCHEMA, "dedup": DOC_SCHEMA, "cooccurrence": LINE_SCHEMA}[leg]
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(p("in"))
        )
        if leg == "rollup":
            stream = stream.withColumn("event_date", F.to_date("ts"))
            return incremental_rollup(
                stream, p("state"), ROLLUP_KEYS, ROLLUP_MEASURES, p("ckpt"), on_batch=on_batch
            )
        if leg == "dedup":
            return incremental_dedup_ingest(stream, p("state"), p("survivors"), p("ckpt"))
        return cooccurrence_graph_ingest(
            stream, p("state"), p("edges"), p("ckpt"), "l_orderkey", "l_suppkey",
            min_shared=COOC_MIN_SHARED, on_batch=on_batch,
        )

    # -- timed region -----------------------------------------------------------
    def measure(self) -> dict:
        env = self.env
        batch_ms: list[float] = []
        rows = 0
        wall = 0.0
        for leg in LEGS:
            info = self.legs[leg]
            with env.tracer.span(f"stream.{leg}") as rec:
                t0 = time.perf_counter()
                q = self._start(leg, on_batch=lambda *_: env.gauge.sample())
                try:
                    q.awaitTermination()
                except Exception as exc:  # noqa: BLE001 - its batches count as failed
                    info["error"] = repr(exc)
                leg_s = time.perf_counter() - t0
            env.gauge.sample()
            progress = [p for p in q.recentProgress if p.numInputRows > 0]
            q.stop()
            wall += leg_s
            info["leg_s"] = leg_s
            info["progress"] = [
                {"batch": p.batchId, "rows": p.numInputRows, **dict(p.durationMs)}
                for p in progress
            ]
            ms = [float(p.durationMs["triggerExecution"]) for p in progress]
            info["batch_ms"] = ms
            batch_ms += ms
            rows += sum(p.numInputRows for p in progress)
            if rec is not None:
                env.tracer.attach_jobs(rec, str(q.runId))
                self._batch_spans(rec, info["progress"])
        n = sum(i["batches"] for i in self.legs.values())
        return {
            "op_ms": batch_ms,
            "op_p50_ms": stats.median_per_kind(
                {leg: self.legs[leg]["batch_ms"] for leg in LEGS}
            ),
            "bulk_s": wall,
            "ops_per_s": rows / wall,
            "attempted": n,
            "failed": n - len(batch_ms),
            "errors": [f"{leg}: {i['error']}" for leg, i in self.legs.items() if "error" in i],
        }

    def _batch_spans(self, leg_rec: dict, progress: list[dict]) -> None:
        """Per-batch child spans laid end to end inside the leg span, each
        with its addBatch / planning / checkpoint children (durations from
        the progress events; the query thread's clock is not ours)."""
        tr = self.env.tracer
        t = leg_rec["start"]
        leg = leg_rec["name"]
        for p in progress:
            total = p["triggerExecution"] / 1000.0
            b = tr.add(f"{leg}.batch", t, t + total, leg_rec, batch=p["batch"])
            u = t
            for part, keys in (
                ("planning", ("queryPlanning",)),
                ("add_batch", ("addBatch",)),
                ("checkpoint", ("walCommit", "commitOffsets")),
            ):
                dur = sum(p.get(k, 0) for k in keys) / 1000.0
                tr.add(f"stream.{part}", u, u + dur, b)
                u += dur
            t += total

    # -- output checks ----------------------------------------------------------
    def check(self) -> dict:
        """Final versioned state of every leg equals a batch recomputation
        over all of its batches (the governed-stream equivalence checks)."""
        from emdatapipelines_spark.operators.graph import cooccurrence_edges
        from emdatapipelines_spark.operators.reaggregate import partial_aggregate
        from emdatapipelines_spark.queries.registry import t as load
        from emdatapipelines_spark.versioned import read_versioned
        from pyspark.sql import functions as F

        env = self.env
        spark = env.spark
        checks = {}
        outputs = {}

        d = self.legs["rollup"]["dir"]
        got = _digest(read_versioned(spark, os.path.join(d, "state")))
        events = load(spark, env.sf_dir, "events").withColumn("event_date", F.to_date("ts"))
        want = _digest(partial_aggregate(events, ROLLUP_KEYS, ROLLUP_MEASURES))
        checks["rollup_equals_batch"] = got == want
        outputs["rollup_partials"] = got

        d = self.legs["cooccurrence"]["dir"]
        edge_dirs = sorted(os.listdir(os.path.join(d, "edges")), key=lambda s: int(s.split("=")[1]))
        got = _digest(spark.read.parquet(os.path.join(d, "edges", edge_dirs[-1])))
        lines = load(spark, env.sf_dir, "lineitem").filter(F.col("l_orderkey") % LINE_EVERY == 0)
        want = _digest(
            cooccurrence_edges(lines, "l_orderkey", "l_suppkey", min_shared=COOC_MIN_SHARED)
            .select("src", "dst")
        )
        checks["cooccurrence_equals_batch"] = got == want
        outputs["cooccurrence_edges"] = got

        d = self.legs["dedup"]["dir"]
        checks["dedup_index_equals_batch"] = (
            _digest(read_versioned(spark, os.path.join(d, "state"))) == self.dedup_twin["index"]
        )
        stream_surv = _digest(spark.read.parquet(os.path.join(d, "survivors")).select("doc_id"))
        checks["dedup_survivors_equal_batch"] = stream_surv == self.dedup_twin["survivors"]
        self.legs["dedup"]["survivors"] = stream_surv[0]
        outputs["dedup_docs_ingested"] = self.legs["dedup"]["rows"]
        return {"checks": checks, "outputs": outputs}

    # -- layer metrics ------------------------------------------------------------
    def op_layers(self, spans: dict) -> dict:
        wl = self.layer_metrics()
        n = sum(len(self.legs[leg]["progress"]) for leg in LEGS)
        return {
            "plan_ms": wl["stream.planning_ms"],
            "exec_ms": wl["stream.add_batch_ms"],
            "jobs": sum(spans[s]["jobs"] for s in self.bulk_spans) / n,
            "tasks": sum(spans[s]["tasks"] for s in self.bulk_spans) / n,
        }

    def layer_metrics(self) -> dict:
        legs = self.legs
        out = {}
        for leg in LEGS:
            prog = legs[leg]["progress"]
            out[f"stream.{leg}_batch_ms"] = float(np.median(legs[leg]["batch_ms"] or [np.nan]))
            out[f"stream.{leg}_batches"] = len(prog)
        allp = [p for leg in LEGS for p in legs[leg]["progress"]]
        for name, keys in (
            ("add_batch_ms", ("addBatch",)),
            ("checkpoint_ms", ("walCommit", "commitOffsets")),
            ("planning_ms", ("queryPlanning",)),
        ):
            # mean, not median: the progress events report whole milliseconds
            out[f"stream.{name}"] = float(np.mean([sum(p.get(k, 0) for k in keys) for p in allp]))
        state = 0
        for leg in LEGS:
            for root, _dirs, files in os.walk(os.path.join(legs[leg]["dir"], "state")):
                state += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        out["stream.state_mb"] = state / (1024.0 * 1024.0)
        dd = legs["dedup"]["batch_ms"]
        if dd:
            out["stream.dedup_growth"] = dd[-1] / dd[0]
        if "survivors" in legs["dedup"]:
            out["stream.survivor_ratio"] = legs["dedup"]["survivors"] / legs["dedup"]["rows"]
        return out


def _digest(df) -> tuple[int, int]:
    """Order-insensitive content digest: the row count and the exact sum of
    per-row 64-bit hashes over the columns in name order. Two frames with
    the same multiset of rows have the same digest."""
    from pyspark.sql import functions as F

    row = df.select(
        F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")).first()
    return int(row["n"]), int(row["s"] or 0)
