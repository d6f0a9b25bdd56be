"""Repeats each workload with different seeds and reports, per end-to-end
metric, the median, the quartiles and the spread (interquartile range
over the median) against the metric's bound in BENCHMARK.json.

    python3 graftbench/steadiness.py [--runs 10] [--first-seed 1]
        [--workloads zeek_scan,headline_sql] [--out .bench_build/steadiness.json]
        [--md graftbench/STEADINESS.md]

A metric is steady when its spread is within its bound; the target is a
third of the bound. `setup_s` is reported but its spread is not gated
(only its median may not drift). Exits 1 when any gated spread exceeds
its bound or any run fails its output checks.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run_once(workload, seed, seconds):
    out = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                         cwd=ROOT, capture_output=True, text=True)
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {out.returncode}: {out.stderr[-500:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def summarize(values, bound):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    spread = (q3 - q1) / med if med else float("inf")
    return {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": bound,
            "within_bound": spread <= bound, "within_third": spread <= bound / 3,
            "values": values}


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--out", default=str(ROOT / ".bench_build" / "steadiness.json"))
    ap.add_argument("--md", help="also write the table as markdown to this file")
    a = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report, ok = {}, True
    for w in a.workloads.split(","):
        results = []
        for i in range(a.runs):
            r = run_once(w, a.first_seed + i, spec["run_seconds"])
            ok &= r["correct"]
            results.append(r)
            print(f"{w} seed {a.first_seed + i}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in sorted(r["metrics"].items())), flush=True)
        report[w] = {}
        for m, bound in bounds.items():
            s = summarize([r["metrics"][m]["value"] for r in results], bound)
            report[w][m] = s
            gated = m != "setup_s"
            ok &= s["within_bound"] or not gated
            print(f"  {m:12s} median {s['median']:.4g}  q1 {s['q1']:.4g}  q3 {s['q3']:.4g}  "
                  f"spread {s['spread']:.3f} / bound {bound}"
                  f"{'' if s['within_bound'] or not gated else '  EXCEEDS'}", flush=True)
    Path(a.out).parent.mkdir(parents=True, exist_ok=True)
    Path(a.out).write_text(json.dumps(report, indent=1))
    if a.md:
        Path(a.md).write_text(markdown(report, a))
    return 0 if ok else 1


def markdown(report, a):
    seeds = f"{a.first_seed}..{a.first_seed + a.runs - 1}"
    out = [f"{a.runs} runs per workload, seeds {seeds}, `--seconds` from BENCHMARK.json. "
           "Spread = (q3 - q1) / median, quartiles by `statistics.quantiles(n=4)`.", "",
           "| workload | metric | median | q1 | q3 | spread | bound |", "|---|---|---|---|---|---|---|"]
    for w, metrics in report.items():
        for m, s in metrics.items():
            out.append(f"| {w} | {m} | {s['median']:.4g} | {s['q1']:.4g} | {s['q3']:.4g} | "
                       f"{s['spread']:.3f} | {s['bound']} |")
    return "\n".join(out) + "\n"


if __name__ == "__main__":
    sys.exit(main())
