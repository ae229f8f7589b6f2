"""Runs the benchmark on several seeds and reports, per end-to-end metric,
the median and the inter-quartile spread as a share of the median, next to
the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload idr_dag --seeds 1-10

Raw results land in .bench_build/spread-<workload>.json.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="a range like 1-10")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    lo, hi = map(int, a.seeds.split("-"))
    runs = []
    for seed in range(lo, hi + 1):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                            "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
        if r.returncode != 0:
            sys.exit(f"seed {seed} failed: {r.stderr[-2000:]}")
        res = json.loads(r.stdout.strip().splitlines()[-1])
        res["seed"] = seed
        runs.append(res)
        print(seed, res["correct"], res["failed"], {k: round(v["value"], 4)
                                                   for k, v in res["metrics"].items()}, flush=True)
    out = os.path.join(ROOT, ".bench_build", f"spread-{a.workload}.json")
    with open(out, "w") as f:
        json.dump(runs, f, indent=1)
    print(f"{'metric':<26}{'median':>12}{'spread':>9}{'bound':>8}")
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        sp = stats.spread(vals) if len(vals) >= 2 else 0.0
        flag = "" if sp < m["bound"] / 3 else ("  > bound/3" if sp < m["bound"] else "  > BOUND")
        print(f"{m['name']:<26}{stats.median(vals):>12.4f}{sp:>9.3f}{m['bound']:>8}{flag}")


if __name__ == "__main__":
    main()
