"""Steadiness report: run workloads on N seeds and set each end-to-end
metric's spread against the bound in BENCHMARK.json.

    python3 perfbench/steadiness.py --seeds 1-10 [--workload W ...] [--seconds S]
        [--baseline earlier.json] [--out report.json]

Each run is a fresh ``run.py`` process, one after another. Per workload it
prints one row: every metric's median, first and third quartile
(``statistics.quantiles(n=4)``) and spread, the quartile distance as a
share of the median, next to the bound. A spread at or below a third of
the bound is steady (``ok``). ``setup_s`` has no spread limit: a run sets
up once, so its spread is the host's, and only its drift is bounded. With
``--baseline`` (an earlier report's JSON) it also gives each median's
drift against the earlier median, in the metric's worse direction. It
also checks that every run was correct and that the seed-invariant outputs
were identical on every seed.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import quartile_spread  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: float) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(
            f"{workload} seed {seed} exited {proc.returncode}: {proc.stderr[-2000:]}"
        )
    return {
        "result": json.loads(lines[-1]),
        "detail": json.loads(lines[-2])["detail"],
        "wall_s": time.perf_counter() - t0,
    }


def summarize(runs: list[dict], spec: dict) -> dict:
    row = {}
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        values = [r["result"]["metrics"][name]["value"] for r in runs]
        q = quartile_spread(values)
        row[name] = {
            **q,
            "values": values,
            "bound": bound,
            "ok": name == "setup_s" or q["spread"] <= bound / 3,
        }
    outputs = [json.dumps(r["detail"]["outputs"], sort_keys=True) for r in runs]
    return {
        "metrics": row,
        "all_correct": all(r["result"]["correct"] for r in runs),
        "failed": sum(r["result"]["failed"] for r in runs),
        "outputs_identical": len(set(outputs)) == 1,
        "wall_s": [r["wall_s"] for r in runs],
        "cpu_steal_share": [r["detail"]["provenance"]["cpu_steal_share"] for r in runs],
    }


def drift(now: dict, before: dict, spec: dict) -> dict:
    """Relative change of each median against ``before``, signed so that
    positive is worse, and whether it stays within the bound."""
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out = {}
    for name, cur in now["metrics"].items():
        prev = before["metrics"][name]["median"]
        rel = (cur["median"] - prev) / abs(prev)
        worse = rel if better[name] == "lower" else -rel
        out[name] = {"worse_by": worse, "ok": worse <= bounds[name]}
    return out


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", action="append",
                   help="workload to run (repeatable; default: all)")
    p.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,8")
    p.add_argument("--seconds", type=float, default=spec["run_seconds"])
    p.add_argument("--baseline", help="earlier report (JSON) to compare medians with")
    p.add_argument("--out", help="write the report as JSON here")
    args = p.parse_args(argv)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    baseline = None
    if args.baseline:
        with open(args.baseline) as fh:
            baseline = json.load(fh)
    report = {}
    for w in workloads:
        runs = []
        for seed in _seeds(args.seeds):
            r = run_once(w, seed, args.seconds)
            runs.append(r)
            print(f"# {w} seed {seed}: {json.dumps(r['result']['metrics'])}", flush=True)
        report[w] = summarize(runs, spec)
        if baseline and w in baseline:
            report[w]["drift"] = drift(report[w], baseline[w], spec)
    for w, rep in report.items():
        cells = [
            f"{name}: med {m['median']:.4g} q1 {m['q1']:.4g} q3 {m['q3']:.4g}"
            f" spread {m['spread']:.3f}/{m['bound']} {'ok' if m['ok'] else 'WIDE'}"
            + (f" drift {rep['drift'][name]['worse_by']:+.3f}" if "drift" in rep else "")
            for name, m in rep["metrics"].items()
        ]
        print(f"{w} | correct={rep['all_correct']} failed={rep['failed']}"
              f" outputs_identical={rep['outputs_identical']}"
              f" mean_wall_s={sum(rep['wall_s']) / len(rep['wall_s']):.1f} | " + " | ".join(cells))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    steady = all(m["ok"] for rep in report.values() for m in rep["metrics"].values())
    drift_ok = all(d["ok"] for rep in report.values() for d in rep.get("drift", {}).values())
    correct = all(rep["all_correct"] and rep["outputs_identical"] for rep in report.values())
    return 0 if steady and drift_ok and correct else 1


if __name__ == "__main__":
    sys.exit(main())
