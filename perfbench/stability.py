#!/usr/bin/env python3
"""Steadiness checks for the benchmark, run from the repository root.

    python3 perfbench/stability.py spread  [--seeds 10] [--workloads a,b]
    python3 perfbench/stability.py heldout [--seed 1001] [--runs 3]
    python3 perfbench/stability.py overhead [--seed 5]

spread:   runs every workload once per seed (seeds 1..N) and reports, for each
          end-to-end metric, the distance between the first and third quartile
          (statistics.quantiles(values, n=4)) as a share of the median, next to
          the metric's bound from BENCHMARK.json.
heldout:  runs a seed that `spread` never used and compares the median of its
          runs with the median of the `spread` runs, metric by metric, against
          the bounds.
overhead: runs each workload untraced and traced on one seed and prints the
          tracing overhead, traced minus untraced, for every end-to-end metric.

Every run's standard output (meta, summary and result lines) is kept under
.bench_work/stability/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_work", "stability")


def spec():
    return json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, seed, trace, seconds):
    cmd = spec()["command"] + ["--workload", workload, "--seed", str(seed),
                               "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"run failed: {' '.join(cmd)} (exit {p.returncode})")
    result = json.loads(lines[-1])
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"{workload}-seed{seed}-trace{trace}.out"), "w") as fh:
        fh.write(p.stdout)
    if not result["correct"] or result["failed"]:
        print(f"  {workload} seed {seed}: {result['failed']} of {result['attempted']} operations failed")
    return {k: v["value"] for k, v in result["metrics"].items()}


def spread_of(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["spread", "heldout", "overhead"])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--seed", type=int, default=None)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--workloads", default=None)
    a = ap.parse_args()
    s = spec()
    seconds = s["run_seconds"]
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in s["workloads"]]
    e2e = s["end_to_end"]
    ok = True

    if a.mode == "spread":
        for w in workloads:
            vals = {m["name"]: [] for m in e2e}
            for seed in range(1, a.seeds + 1):
                r = run(w, seed, 0, seconds)
                for m in e2e:
                    vals[m["name"]].append(r[m["name"]])
            print(f"{w}: {a.seeds} seeds")
            for m in e2e:
                v = vals[m["name"]]
                sp = spread_of(v)
                flag = "ok" if m["name"] == "setup_s" or sp < m["bound"] / 3 else \
                    ("WIDE" if sp <= m["bound"] else "OVER")
                if flag == "OVER":
                    ok = False
                print(f"  {m['name']:<14} median {statistics.median(v):12.4f} {m['unit']:<10} "
                      f"IQR/median {sp:.4f}  bound {m['bound']}  {flag}")
            with open(os.path.join(OUT, f"{w}-spread.json"), "w") as fh:
                json.dump(vals, fh)

    elif a.mode == "heldout":
        seed = a.seed or 1001
        for w in workloads:
            base = json.load(open(os.path.join(OUT, f"{w}-spread.json")))
            runs = [run(w, seed, 0, seconds) for _ in range(a.runs)]
            print(f"{w}: held-out seed {seed}, {a.runs} runs, against the spread median")
            for m in e2e:
                b = statistics.median(base[m["name"]])
                h = statistics.median([r[m["name"]] for r in runs])
                rel = (h - b) / b
                within = abs(rel) <= m["bound"]
                ok &= within
                print(f"  {m['name']:<14} spread {b:12.4f}  held-out {h:12.4f}  "
                      f"change {rel:+.4f}  bound {m['bound']}  {'ok' if within else 'OUTSIDE'}")

    else:
        seed = a.seed or 5
        for w in workloads:
            plain = run(w, seed, 0, seconds)
            traced = run(w, seed, 1, seconds)
            print(f"{w}: tracing overhead on seed {seed} (traced - untraced)")
            for m in e2e:
                u, t = plain[m["name"]], traced["traced." + m["name"]]
                print(f"  {m['name']:<14} untraced {u:12.4f}  traced {t:12.4f}  "
                      f"overhead {t - u:+12.4f} {m['unit']} ({(t - u) / u:+.2%})")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
