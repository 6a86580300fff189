#!/usr/bin/env python3
"""Evidence for the benchmark's own design, from repeated runs of run.py.

    python3 perfbench/report.py steady --seeds 1-10 [--workload NAME]
        Runs each workload once per seed (--trace 0) and prints, for every
        end-to-end metric, the median, the quartiles (statistics.quantiles,
        n=4) and the spread (Q3 - Q1) / median next to the metric's bound.

    python3 perfbench/report.py layers --seeds 1-3 [--workload NAME]
        Runs each workload untraced and traced per seed and prints the
        median of every per-layer metric, plus the tracing overhead: traced
        minus untraced total_s.

Both print Markdown. Run them from the root of a checkout; each run's
whole result is kept under .bench_build/perfbench/report/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench", "report")


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, trace, seconds):
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"{workload}-seed{seed}-trace{trace}.json")
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--full-result", path]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{' '.join(cmd)} failed:\n{p.stderr[-2000:]}")
    with open(path) as f:
        res = json.load(f)
    print(f"<!-- {workload} seed {seed} trace {trace}: total_s {res['end_to_end']['total_s']:.3f}, "
          f"failed {res['failed']}/{res['attempted']} -->", flush=True)
    return res


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3, (q3 - q1) / statistics.median(values)


def passes(results_by_workload):
    """Within one process against between processes, in wall-clock time:
    the median pass time at each warm-up and timed position, the median
    spread of the timed passes inside a run, and the spread of total_s
    across runs."""
    print("| workload | median pass times, warm-up then timed (s) | timed passes within a run, "
          "median (max - min) / mean | total_s across runs, (Q3 - Q1) / median |")
    print("|---|---|---|---|")
    for w, results in results_by_workload.items():
        curve = [statistics.median(col) for col in zip(*(r["warm_pass_s"] + r["timed_pass_s"] for r in results))]
        within = [(max(t) - min(t)) / statistics.mean(t) for t in (r["timed_pass_s"] for r in results) if len(t) > 1]
        between = spread([r["wall_clock"]["total_s"] for r in results])[3]
        print(f"| {w} | {', '.join(f'{x:.2f}' for x in curve)} | "
              f"{statistics.median(within):.3f} | {between:.3f} |" if within else
              f"| {w} | {', '.join(f'{x:.2f}' for x in curve)} | one timed pass | {between:.3f} |")


def steady(spec, workloads, ss):
    print("| workload | metric | median | Q1 | Q3 | spread | bound |")
    print("|---|---|---|---|---|---|---|")
    rows = []
    by_workload = {}
    for w in workloads:
        results = by_workload[w] = [run(w, s, 0, spec["run_seconds"]) for s in ss]
        for m in spec["end_to_end"]:
            q1, med, q3, sp = spread([r["end_to_end"][m["name"]] for r in results])
            rows.append(f"| {w} | {m['name']} ({m['unit']}) | {med:.4g} | {q1:.4g} | {q3:.4g} | "
                        f"{sp:.3f} | {m['bound']} |")
        errors = sum(r["failed"] for r in results)
        rows.append(f"| {w} | failed / attempted | {errors} / {sum(r['attempted'] for r in results)} | | | | |")
    print("\n".join(rows))
    print()
    passes(by_workload)


def layers(spec, workloads, ss):
    table = {}
    overhead = {}
    for w in workloads:
        plain = [run(w, s, 0, spec["run_seconds"]) for s in ss]
        traced = [run(w, s, 1, spec["run_seconds"]) for s in ss]
        table[w] = {m["name"]: statistics.median(r["per_layer"][m["name"]] for r in traced)
                    for m in spec["per_layer"]}
        t0 = statistics.median(r["end_to_end"]["total_s"] for r in plain)
        t1 = statistics.median(r["end_to_end"]["total_s"] for r in traced)
        overhead[w] = (t0, t1)
    print("| metric | unit | " + " | ".join(workloads) + " |")
    print("|---|---|" + "---|" * len(workloads))
    for m in spec["per_layer"]:
        print(f"| {m['name']} | {m['unit']} | " +
              " | ".join(f"{table[w][m['name']]:.4g}" for w in workloads) + " |")
    print()
    print("| workload | untraced total_s | traced total_s | overhead |")
    print("|---|---|---|---|")
    for w in workloads:
        t0, t1 = overhead[w]
        print(f"| {w} | {t0:.3f} | {t1:.3f} | {t1 - t0:+.3f} s ({(t1 - t0) / t0:+.1%}) |")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("mode", choices=("steady", "layers"))
    ap.add_argument("--seeds", default="1-10", help="seed range, e.g. 1-10")
    ap.add_argument("--workload", help="one workload instead of all in BENCHMARK.json")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = [args.workload] if args.workload else [w["name"] for w in spec["workloads"]]
    (steady if args.mode == "steady" else layers)(spec, workloads, seeds(args.seeds))


if __name__ == "__main__":
    main()
