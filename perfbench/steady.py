#!/usr/bin/env python3
"""Repeat perfbench runs over several seeds and report each end-to-end
metric's median, quartiles and spread (quartile distance over median), and
optionally one traced run per workload with its tracing overhead.

Usage (from the repository root):

    python3 perfbench/steady.py --seeds 1-10 --out perfbench/records/NAME.json \
        [--workloads markt_reference,vector_dedup] [--traced]
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def seeds(spec: str) -> list:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=HERE.parent, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        return {"seed": seed, "trace": trace, "exit": r.returncode, "stderr": r.stderr[-2000:]}
    return {"seed": seed, "trace": trace, "exit": 0,
            "record": json.loads(lines[-2]), "result": json.loads(lines[-1])}


def spread(values: list) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default="markt_reference,vector_dedup")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int,
                    default=json.loads((HERE.parent / "BENCHMARK.json").read_text())["run_seconds"])
    ap.add_argument("--traced", action="store_true", help="add one traced run per workload")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    report = {"seconds": a.seconds, "workloads": {}}
    for w in a.workloads.split(","):
        runs = [run_once(w, s, a.seconds, 0) for s in seeds(a.seeds)]
        ok = [r for r in runs if r["exit"] == 0]
        entry = {"runs": runs, "failed_runs": len(runs) - len(ok),
                 "all_correct": all(r["result"]["correct"] for r in ok) and len(ok) == len(runs)}
        if len(ok) >= 2:
            names = ok[0]["result"]["metrics"].keys()
            entry["summary"] = {m: spread([r["result"]["metrics"][m]["value"] for r in ok])
                                for m in names}
            wall = [k for k, v in ok[0]["record"]["end_to_end"].items()
                    if k not in names and all(isinstance(r["record"]["end_to_end"][k], float)
                                              for r in ok)]
            entry["record_summary"] = {m: spread([r["record"]["end_to_end"][m] for r in ok])
                                       for m in wall}
        if a.traced:
            t = run_once(w, seeds(a.seeds)[0], a.seconds, 1)
            entry["traced"] = t
            if t["exit"] == 0 and "summary" in entry:
                e2e = t["record"]["end_to_end"]
                medians = {m: v["median"] for kind in ("record_summary", "summary")
                           for m, v in entry[kind].items()}
                entry["tracing_overhead"] = {m: e2e[m] / med - 1.0 for m, med in medians.items()}
        report["workloads"][w] = entry
        print(f"{w}: {len(ok)}/{len(runs)} runs ok, correct={entry['all_correct']}")
        for kind in ("summary", "record_summary"):
            for m, s in entry.get(kind, {}).items():
                print(f"  {'' if kind == 'summary' else '(record) '}{m:12s} median {s['median']:.4f}"
                      f"  q1 {s['q1']:.4f}  q3 {s['q3']:.4f}  spread {s['spread']:.3f}")
        for m, v in entry.get("tracing_overhead", {}).items():
            print(f"  tracing overhead {m}: {v:+.3f}")
        Path(a.out).parent.mkdir(parents=True, exist_ok=True)
        Path(a.out).write_text(json.dumps(report, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
