"""Steadiness check: run the benchmark in sets on the same code and show
whether each end-to-end metric repeats within its bound.

    python3 perfbench/steady.py --runs 10 --sets 2
    python3 perfbench/steady.py --workloads curation --runs 5 --sets 1
    python3 perfbench/steady.py --runs 1 --sets 1 --traced

Every run gets its own seed. For every end-to-end metric of every workload
the table shows, per set, the median, the quartiles (``statistics.quantiles``
with ``n=4``) and the spread (quartile distance over the median) against the
metric's bound from ``BENCHMARK.json``, then how far the last set's median
moved from the first set's in the metric's worse direction. The run's
other whole-run measurements (wall-clock set-up time, throughput and
unit-call latency), which are not end-to-end metrics, are shown the same
way without a bound.

``--traced`` adds one traced run per workload with the seed of that
workload's first untraced run: it reports the tracing overhead (traced vs
untraced ``items_per_norm_cpu_s``) and, for ``curation``, whether both runs kept the
same documents.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    wall = time.time() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    with open(os.path.join(ROOT, ".perfbench_work", "results", f"{workload}-s{seed}-t{trace}.json")) as fh:
        res["record"] = json.load(fh)
    return res


def summary(values: list[float]) -> tuple[float, float, float, float]:
    med = statistics.median(values)
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    p.add_argument("--first-seed", type=int, default=1000)
    p.add_argument("--traced", action="store_true")
    args = p.parse_args()
    workloads = args.workloads.split(",")
    e2e = {m["name"]: m for m in bench["end_to_end"]}

    # runs[workload][set] -> list of results; workloads interleave so a
    # drift of the machine touches every workload alike
    runs = {w: [[] for _ in range(args.sets)] for w in workloads}
    for s in range(args.sets):
        for i in range(args.runs):
            for w in workloads:
                seed = args.first_seed + 100 * s + i
                res = run_once(w, seed, args.seconds, 0)
                runs[w][s].append(res)
                print(f"set {s + 1} run {i + 1} {w} seed {seed}: wall {res['wall_s']:.1f}s "
                      f"correct={res['correct']} failed={res['failed']}/{res['attempted']} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                      flush=True)

    report = {"args": vars(args), "workloads": {}}
    ok = True
    print()
    print(f"{'workload':14} {'metric':15} {'set':>3} {'median':>11} {'q1':>11} {'q3':>11} "
          f"{'spread':>7} {'bound':>6}  verdict")
    # end-to-end metrics are gated; the other whole-run measurements are
    # shown against no bound
    shown = list(e2e) + [k for k in runs[workloads[0]][0][0]["record"]["measured"] if k not in e2e]
    for w in workloads:
        report["workloads"][w] = {}
        for name in shown:
            m = e2e.get(name)
            meds = []
            rows = []
            for s in range(args.sets):
                vals = [r["record"]["measured"][name]["value"] for r in runs[w][s]]
                med, q1, q3, spread = summary(vals)
                meds.append(med)
                if m is None:
                    verdict = "not end-to-end"
                elif spread <= m["bound"] / 3:
                    verdict = "ok"
                else:
                    verdict = "within bound" if spread <= m["bound"] else "TOO NOISY"
                ok &= m is None or spread <= m["bound"]
                bound = f"{m['bound']:6.3f}" if m else f"{'-':>6}"
                print(f"{w:14} {name:15} {s + 1:>3} {med:11.4g} {q1:11.4g} {q3:11.4g} "
                      f"{spread:7.3f} {bound}  {verdict}")
                rows.append({"values": vals, "median": med, "q1": q1, "q3": q3, "spread": spread})
            drift = None
            if args.sets > 1 and m is not None:
                sign = 1 if m["better"] == "lower" else -1
                drift = sign * (meds[-1] - meds[0]) / meds[0]
                ok &= drift <= m["bound"]
                print(f"{w:14} {name:15} {'Δ':>3} {'':11} {'':11} {'':11} {drift:7.3f} "
                      f"{m['bound']:6.3f}  {'ok' if drift <= m['bound'] else 'MOVED'}")
            report["workloads"][w][name] = {"sets": rows, "worse_drift": drift}
        fails = sum(r["failed"] for s in runs[w] for r in s)
        walls = [r["wall_s"] for s in runs[w] for r in s]
        print(f"{w:14} failed ops {fails}, run wall median {statistics.median(walls):.1f}s "
              f"max {max(walls):.1f}s")
        ok &= fails == 0

    if args.traced:
        print()
        for w in workloads:
            base = runs[w][0][0]
            seed = args.first_seed
            traced = run_once(w, seed, args.seconds, 1)
            plain = base["record"]["measured"]["items_per_norm_cpu_s"]["value"]
            tr = traced["record"]["measured"]["items_per_norm_cpu_s"]["value"]
            line = (f"{w:14} tracing overhead {1 - tr / plain:+.3f} "
                    f"(items_per_norm_cpu_s: untraced {plain:.4g}, traced {tr:.4g})")
            if w == "curation":
                same = traced["record"]["extra"]["kept_hash"] == base["record"]["extra"]["kept_hash"]
                line += f"; kept-doc hash equal to untraced: {same}"
                ok &= same
            print(line)
            report["workloads"][w]["tracing_overhead"] = 1 - tr / plain
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    out = os.path.join(ROOT, ".perfbench_work", f"steady-{int(time.time())}.json")
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"\nwritten {out}; overall {'PASS' if ok else 'FAIL'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
