#!/usr/bin/env python3
"""Generate DESIGN.md's consolidated scaling table (markdown) from two Bench
artifacts: plans/bench_sf01.json (median-of-3, sf0.1) and plans/bench_sf1.json
(sf1).
Per-query ratio = best-sample sf1 / best-sample sf0.1 (best is the honest
per-query cost; medians carry round-count asymmetry across the two sweeps).

Usage: python3 tools/scaling_table.py [plans/bench_sf01.json] [plans/bench_sf1.json]
Prints the cohort summary followed by the full per-query table, ratio
descending, with standing adjudication notes folded in.
"""
import json
import sys

# Standing per-query adjudications (measured in earlier rounds; see the
# round sections of DESIGN.md for the full narratives).
NOTES = {
    "q193_interval_join": "output-linear: ScaleUp densifies dates, true pairs grow ~100x (5.76M->575M)",
    "q255_containment_indexed": "output-linear: true containment pairs grow ~979x on the replica corpus",
    "q187_video_pipeline": "sf1 round pays one-time AVI fixture materialization per scale dir",
    "q161_semantic_neardup": "isotropic-corpus LSH density limit; exact blocked fallback is the guarantee",
    "q257_bpe_distributed": "job-count-bound: vocab is cluster-resident, only the word-count job grows",
    "q271_modified_kn": "guard-refusal documented at sf1 (replica corpus has no count-1..3 bigram types)",
    "q279_containment_gate": "growth is the reference-index build; a real gate's reference is fixed-size",
}


def best(d, q):
    s = d["detail"].get(q, {}).get("samples")
    return min(s) if s else None


def main():
    sf01 = json.load(open(sys.argv[1] if len(sys.argv) > 1 else "plans/bench_sf01.json"))
    sf1 = json.load(open(sys.argv[2] if len(sys.argv) > 2 else "plans/bench_sf1.json"))
    qs = sorted(set(sf01["detail"]) & set(sf1["detail"]))
    only01 = sorted(set(sf01["detail"]) - set(sf1["detail"]))
    rows = []
    for q in qs:
        a, b = best(sf01, q), best(sf1, q)
        if a and b:
            rows.append((q, a, b, b / a))
    rows.sort(key=lambda r: -r[3])
    floor = [r for r in rows if r[3] < 2]
    linear = [r for r in rows if 2 <= r[3] < 20]
    superl = [r for r in rows if r[3] >= 20]
    rats = sorted(r[3] for r in rows)
    med = rats[len(rats) // 2]
    print("| cohort (growth at 10x data) | queries | sf0.1 | sf1 |")
    print("|---|---|---|---|")
    for name, cohort in [("floor-bound (< 2x)", floor),
                         ("linear-ish (2-20x)", linear),
                         ("super-linear (>= 20x)", superl)]:
        t01 = sum(r[1] for r in cohort)
        t1 = sum(r[2] for r in cohort)
        print(f"| {name} | {len(cohort)}/{len(rows)} | {t01:.0f} s | {t1:.0f} s |")
    print(f"\nmedian per-query ratio: {med:.2f}x; totals "
          f"{sum(r[1] for r in rows):.1f} -> {sum(r[2] for r in rows):.1f} s "
          f"({sum(r[2] for r in rows)/sum(r[1] for r in rows):.2f}x)")
    if only01:
        print(f"benched at sf0.1 only (no sf1 sample): {', '.join(only01)}")
    print("\n| query | sf0.1 | sf1 | ratio | note |")
    print("|---|---|---|---|---|")
    for q, a, b, r in rows:
        print(f"| {q} | {a:.2f} | {b:.2f} | {r:.1f}x | {NOTES.get(q, '')} |")


if __name__ == "__main__":
    main()
