"""Steadiness record: run the benchmark over several seeds and summarize.

    python3 perfbench/steady.py --seeds 1-10 --out perfbench/records/steady.json
    python3 perfbench/steady.py --seeds 11-14 --overhead --out perfbench/records/overhead.json

The default mode calls ``run.py`` once per (seed, workload), workloads
interleaved within each seed, never grouped, and writes for every
end-to-end metric its values, median, quartiles (``statistics.quantiles``,
n=4) and spread = (Q3 − Q1) / median next to the bound in
``BENCHMARK.json``. ``--overhead`` runs each workload's child traced and
untraced, alternating which goes first, and reports the difference of
the end-to-end medians.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values: list[float], bound: float | None) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    spread = (q3 - q1) / med if med else 0.0
    out = {"values": values, "median": med, "q1": q1, "q3": q3, "spread": spread}
    if bound is not None:
        out.update(bound=bound, within_bound=spread <= bound, within_third=spread < bound / 3)
    return out


def steady(seeds: list[int], bench: dict) -> dict:
    workloads = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs: dict[str, list[dict]] = {w: [] for w in workloads}
    for seed in seeds:
        for w in workloads:
            t0 = time.time()
            proc = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", str(seed),
                                    "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True,
            )
            wall = time.time() - t0
            last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
            res = json.loads(last) if proc.returncode == 0 else {"error": proc.stderr[-2000:]}
            steal = re.findall(r"host steal ([0-9.]+)%", proc.stderr)
            res.update(seed=seed, wall_s=wall, steal_pct=float(steal[0]) if steal else None)
            runs[w].append(res)
            print(json.dumps({"workload": w, "seed": seed, "wall_s": round(wall, 1),
                              "steal_pct": res["steal_pct"], "correct": res.get("correct"),
                              "metrics": {k: round(v["value"], 4) for k, v in res.get("metrics", {}).items()}}),
                  file=sys.stderr)
    out = {"seeds": seeds, "workloads": {}}
    for w, rs in runs.items():
        ok = [r for r in rs if "metrics" in r]
        out["workloads"][w] = {
            "runs": len(rs),
            "all_correct": all(r.get("correct") for r in rs),
            "wall_s": summarize([r["wall_s"] for r in rs], None),
            "steal_pct": [r["steal_pct"] for r in rs],
            "metrics": {
                name: summarize([r["metrics"][name]["value"] for r in ok], bounds.get(name))
                for name in bounds
            },
        }
    walls = [r["wall_s"] for rs in runs.values() for r in rs]
    n_runs = 4 + 22 * len(workloads)
    out["budget"] = {"runs": n_runs, "mean_run_s": statistics.mean(walls),
                     "projected_s": n_runs * statistics.mean(walls), "limit_s": 3420}
    return out


def overhead(seeds: list[int], bench: dict) -> dict:
    """Traced minus untraced end-to-end medians, per workload."""
    sys.path[:0] = [HERE, ROOT]  # run.py's modules, and the vaero_spark its generator uses
    import run

    out = {}
    for w in [x["name"] for x in bench["workloads"]]:
        vals = {0: [], 1: []}
        for i, seed in enumerate(seeds):
            staged = run.stage(w, seed, bench["run_seconds"])
            with open(os.path.join(staged, "meta.json")) as f:
                meta = json.load(f)
            for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
                work = os.path.join(run.STATE, f"work-{os.getpid()}")
                shutil.rmtree(work, ignore_errors=True)
                try:
                    rec = run.run_child(w, staged, work, trace, run.MASTER)
                    vals[trace].append({k: v for k, (v, _) in run.end_to_end(w, rec, meta, work).items()})
                finally:
                    shutil.rmtree(work, ignore_errors=True)
        out[w] = {
            name: {
                "untraced_median": statistics.median(r[name] for r in vals[0]),
                "traced_median": statistics.median(r[name] for r in vals[1]),
                "traced_minus_untraced": statistics.median(r[name] for r in vals[1])
                - statistics.median(r[name] for r in vals[0]),
            }
            for name in vals[0][0]
        }
    return {"seeds": seeds, "workloads": out}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    result = overhead(args.seeds, bench) if args.overhead else steady(args.seeds, bench)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)


if __name__ == "__main__":
    main()
