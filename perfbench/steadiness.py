"""Steadiness report: run the benchmark over several seeds, in sets, and
summarise each end-to-end metric per workload.

    python3 perfbench/steadiness.py --sets 1-10 1-10 1001-1010 --out perfbench/results/steadiness.json

Each ``--sets`` argument is one set of seeds (``a-b`` or ``a,b,c``); every
workload runs once per seed, and a set may repeat an earlier one. For each set, workload and metric the report
gives the median, the quartiles and the spread, (q3 - q1) / median, as
``statistics.quantiles(values, n=4)`` computes them; across sets it
gives how far each set's median lies from the first set's. ``--traced``
adds one traced run per workload on the first seed of the first set.
The host's CPU count and the PySpark and Java versions are recorded with
the results.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

from workloads import stolen_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed)]
    cmd += ["--seconds", str(seconds), "--trace", str(trace)]
    t0, steal0 = time.perf_counter(), stolen_s()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    elapsed = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    out["elapsed_s"] = elapsed
    # share of the machine's CPU time stolen during the run: whole runs
    # slow down with it, so it explains most of the spread between runs
    out["steal_frac"] = (stolen_s() - steal0) / (elapsed * len(os.sched_getaffinity(0)))
    values = " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items())
    print(f"  {workload} seed {seed}: {elapsed:.0f} s, steal {out['steal_frac']:.3f}, {values}", flush=True)
    return out


def _summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "values": values}


def _versions() -> dict:
    import pyspark

    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True).stderr.splitlines()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "machine": platform.machine(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java[0] if java else "unknown",
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sets", nargs="+", required=True)
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report: dict = {"host": _versions(), "run_seconds": spec["run_seconds"], "sets": [], "traced": {}}
    for set_spec in args.sets:
        seeds = _seeds(set_spec)
        entry = {"seeds": seeds, "workloads": {}}
        for w in workloads:
            runs = [_run(w, s, spec["run_seconds"], 0) for s in seeds]
            metrics = {m: _summary([r["metrics"][m]["value"] for r in runs]) for m in bounds}
            entry["workloads"][w] = {
                "metrics": metrics,
                "failed": sum(r["failed"] for r in runs),
                "attempted": sum(r["attempted"] for r in runs),
                "elapsed_s": [round(r["elapsed_s"], 1) for r in runs],
                "steal_frac": [round(r["steal_frac"], 3) for r in runs],
                "steal_frac_median": round(statistics.median(r["steal_frac"] for r in runs), 4),
            }
            for m, v in metrics.items():
                flag = "" if m == "setup_s" or v["spread"] <= bounds[m] / 3 else "  <-- above bound/3"
                print(f"set {set_spec} {w:14s} {m:14s} median {v['median']:12.4f} spread {v['spread']:.4f}{flag}")
        report["sets"].append(entry)
    first = report["sets"][0]["workloads"]
    for entry in report["sets"][1:]:
        entry["median_vs_first"] = {
            w: {m: v["median"] / first[w]["metrics"][m]["median"] - 1 for m, v in d["metrics"].items()}
            for w, d in entry["workloads"].items()
        }
    if args.traced:
        seed = _seeds(args.sets[0])[0]
        for w in workloads:
            report["traced"][w] = _run(w, seed, spec["run_seconds"], 1)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(report, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
