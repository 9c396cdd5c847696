"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload refresh_serve --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are the sf0.1 fixture tables
(``$SPARK_GRAFT_SF_DIR``, else the ``sf0.1`` sibling of the fixture
directory the package CLI defaults to), copied in a seeded row order.
Spark runs in this process on ``local[N]``, N = ``$SPARK_GRAFT_CPUS`` or
the CPUs this process may use, with one client thread.

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` records
spans (``spans.py``) and prints the per-layer metrics. Both check the
program's outputs after the timed region. Everything a run writes stays
under ``.perfbench/`` in the repository root: scratch state in ``work/``
(removed at exit) and results and spans in ``out/``. See README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from types import SimpleNamespace  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _default_sf_dir() -> str:
    from emdatapipelines_spark.__main__ import _build_parser

    cli_default = _build_parser().parse_args(["run", "-"]).sf_dir
    return os.path.join(os.path.dirname(cli_default), "sf0.1")


def _cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


class Gauge:
    """High-water mark of the block manager's cached bytes (persisted RDDs
    and local checkpoints), sampled after each operation."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.peak = 0

    def sample(self) -> None:
        from emdatapipelines_spark.cachectl import pinned_bytes, take_pinned_high_water

        self.peak = max(self.peak, pinned_bytes(self.spark), take_pinned_high_water())


def _source_digest() -> str:
    """sha256 over the program's Python sources (the checkout may not be a
    git repository, so this names the code measured)."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for base, _dirs, names in os.walk(os.path.join(ROOT, "emdatapipelines_spark")):
        files += [os.path.join(base, n) for n in names if n.endswith(".py")]
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _cpu_ticks() -> list[int] | None:
    """Aggregate CPU tick counters from /proc/stat (None where absent)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def _steal_share(before, after) -> float | None:
    """Share of CPU time the hypervisor gave to other guests during the run
    (the 8th /proc/stat counter): shared-host contention, not ours."""
    if not before or not after or len(before) < 8:
        return None
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta), 1)


def _provenance(spark, args, host_before) -> dict:
    from bench import _host_calibration

    jvm = spark.sparkContext._jvm.System
    load_before, ticks_before = host_before
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        "cpu_steal_share": _steal_share(ticks_before, _cpu_ticks()),
        "host_calib_sec": _host_calibration(),
        "spark": spark.version,
        "java": jvm.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": _git_commit(),
        "source_sha256": _source_digest(),
        "seed": args.seed,
        "workload": args.workload,
        "seconds": args.seconds,
    }


def _workloads() -> dict:
    from refresh_serve import RefreshServe
    from stream_ingest import StreamIngest

    return {w.name: w for w in (RefreshServe, StreamIngest)}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "emdatapipelines_spark")):
        return _fail(f"no program to measure: {ROOT} has no emdatapipelines_spark/")
    sys.path.insert(0, ROOT)
    workloads = _workloads()
    if args.workload not in workloads:
        return _fail(f"unknown workload {args.workload!r}; one of {sorted(workloads)}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR") or _default_sf_dir()
    if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
        return _fail(f"fixture tables not found in {sf_dir}")

    host_before = (os.getloadavg(), _cpu_ticks())
    tag = f"{args.workload}-seed{args.seed}"
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    work = os.path.join(ROOT, ".perfbench", "work", f"{tag}-trace{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    # Python workers import the package; keep every temp file in the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (ROOT, os.environ.get("PYTHONPATH")) if x
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        return _run(args, workloads[args.workload], sf_dir, work, out_dir, tag, host_before)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, workload_cls, sf_dir, work, out_dir, tag, host_before) -> int:
    from emdatapipelines_spark.session import get_spark

    import inputs
    from spans import Tracer

    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{_cpus()}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            # the status store keeps every job of a run for the traced counters
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        env = SimpleNamespace(
            spark=spark,
            tracer=tracer,
            gauge=Gauge(spark),
            sf_dir=sf_dir,
            data_dir=os.path.join(work, "sf"),
            work=work,
            seed=args.seed,
            seconds=args.seconds,
        )
        wl = workload_cls(env)
        t = time.perf_counter()
        with tracer.span("inputs.prepare"):
            inputs.reorder_tables(sf_dir, env.data_dir, list(wl.tables), args.seed)
        prepare_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.setup()
        setup_rest_s = time.perf_counter() - t
        setup_s = time.perf_counter() - T0

        t = time.perf_counter()
        measured = wl.measure()
        timed_s = time.perf_counter() - t
        env.gauge.sample()

        t = time.perf_counter()
        try:
            checked = wl.check()
        except Exception as exc:  # noqa: BLE001 - a crashed check is a failed check
            checked = {"checks": {"check_crashed": False}, "outputs": {}, "error": repr(exc)}
        check_s = time.perf_counter() - t

        ops = measured["op_ms"]
        failed_checks = sorted(k for k, ok in checked["checks"].items() if not ok)
        attempted = measured["attempted"] + len(checked["checks"])
        failed = measured["failed"] + len(failed_checks)
        tail = stats.supported_tail(len(ops))
        e2e = {
            "setup_s": (setup_s, "s"),
            "bulk_s": (measured["bulk_s"], "s"),
            "op_p50_ms": (measured["op_p50_ms"], "ms"),
        }
        detail = {
            "failed_ratio": failed / attempted,
            "peak_cached_mb": env.gauge.peak / (1024.0 * 1024.0),
            "op_p90_ms": stats.percentile(ops, 90),
            "ops_per_s": measured["ops_per_s"],
            "failed_checks": failed_checks,
            "ops": len(ops),
            "op_tail_pct": tail,
            "op_tail_ms": stats.percentile(ops, tail) if tail else None,
            "timed_s": timed_s,
            "check_s": check_s,
            "session_start_s": session_start_s,
            "inputs_prepare_s": prepare_s,
            "setup_rest_s": setup_rest_s,
            "outputs": checked.get("outputs"),
            "errors": measured["errors"],
            "check_error": checked.get("error"),
            "workload_layers": wl.layer_metrics(),
        }
        layers = None
        if args.trace:
            layers = _layer_metrics(tracer, wl, detail)
            tracer.dump(os.path.join(out_dir, f"{tag}-spans.json"))
        detail["provenance"] = _provenance(spark, args, host_before)
    finally:
        _stop(spark)

    overhead = _record(out_dir, tag, args.trace, e2e, detail, layers)
    if layers is not None and overhead is not None:
        detail["trace_overhead_s"] = overhead
    print(json.dumps({"detail": detail}, default=str))
    metrics = e2e if not args.trace else layers
    print(
        json.dumps(
            {
                "correct": not failed_checks and measured["failed"] == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit: it ends when its
    standard input closes, and takes the Python workers with it."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def _layer_metrics(tracer, wl, detail) -> dict:
    """Per-layer metrics shared by every workload; README.md says what each
    means on each workload."""
    names = tracer.by_name()
    bulk = {"jobs": 0, "tasks": 0, "shuffle_mb": 0.0, "task_skew": 1.0}
    for n in wl.bulk_spans:
        for k in ("jobs", "tasks", "shuffle_mb"):
            bulk[k] += names[n][k]
        bulk["task_skew"] = max(bulk["task_skew"], names[n]["task_skew"])
    op = wl.op_layers(names)
    detail["spans"] = names
    return {
        "session.start_s": (detail["session_start_s"], "s"),
        "session.warm_s": (names["session.warm"]["total_s"], "s"),
        "inputs.prepare_s": (names["inputs.prepare"]["total_s"], "s"),
        "bulk.jobs": (bulk["jobs"], "count"),
        "bulk.tasks": (bulk["tasks"], "count"),
        "bulk.shuffle_mb": (bulk["shuffle_mb"], "MB"),
        "bulk.task_skew": (bulk["task_skew"], "ratio"),
        "op.plan_ms": (op["plan_ms"], "ms"),
        "op.exec_ms": (op["exec_ms"], "ms"),
        "op.jobs": (op["jobs"], "count"),
        "op.tasks": (op["tasks"], "count"),
        "check_s": (detail["check_s"], "s"),
    }


def _record(out_dir, tag, trace, e2e, detail, layers) -> float | None:
    """Merge this run into ``out/<workload>-seed<N>.json`` next to the other
    trace mode's result; returns the tracing overhead (traced wall time of
    the timed region minus untraced) once both are there."""
    path = os.path.join(out_dir, f"{tag}.json")
    try:
        with open(path) as fh:
            rec = json.load(fh)
    except (OSError, ValueError):
        rec = {}
    rec["traced" if trace else "untraced"] = {
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "per_layer": None if layers is None else {
            k: {"value": v, "unit": u} for k, (v, u) in layers.items()
        },
        "detail": detail,
    }
    overhead = None
    if "traced" in rec and "untraced" in rec:
        overhead = rec["traced"]["detail"]["timed_s"] - rec["untraced"]["detail"]["timed_s"]
        rec["trace_overhead_s"] = overhead
    with open(path, "w") as fh:
        json.dump(rec, fh, indent=1, default=str)
    return overhead


if __name__ == "__main__":
    sys.exit(main())
