#!/usr/bin/env python3
"""A/B pairs of the benchmark between two checkouts of the repository.

    python3 scripts/perf_ab.py --base ../parent --change . \
        --workload etl_daily --pairs 10 --seed0 101 --out ab-out

`--base` and `--change` are two full checkouts (for example made with
`git worktree add` or `git clone`), each with its own `.bench_build/`. For
seed `seed0 + i` the script runs `perfbench/run.py --trace 0` once in each
checkout, the order alternating from pair to pair so that drift in host load
falls on both sides. Every run's stdout line and its
`.bench_build/perfbench/last-<workload>-trace0.json` are kept under `--out`,
and a run whose result is already there is not repeated, so an interrupted
series resumes where it stopped.

For each workload and end-to-end metric of BENCHMARK.json it prints each
side's median and quartiles, and in how many pairs the change was better;
`--out/summary-<workloads>.json` holds every run's value.
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
from pathlib import Path


def run_one(checkout, workload, seed, seconds, out):
    """One benchmark run in `checkout`; returns its parsed stdout line."""
    result = out / "result.json"
    if result.exists():
        return json.loads(result.read_text())
    out.mkdir(parents=True, exist_ok=True)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True)
    (out / "stderr.log").write_text(proc.stderr[-20000:])
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"run failed in {checkout} (seed {seed}, exit "
                         f"{proc.returncode}); see {out / 'stderr.log'}")
    last = checkout / ".bench_build" / "perfbench" / f"last-{workload}-trace0.json"
    if last.exists():
        shutil.copy(last, out / last.name)
    result.write_text(lines[-1])
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, type=Path)
    ap.add_argument("--change", required=True, type=Path)
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--out", required=True, type=Path)
    args = ap.parse_args()
    sides = {"base": args.base.resolve(), "change": args.change.resolve()}
    spec = json.loads((sides["change"] / "BENCHMARK.json").read_text())

    report = {}
    for wl in args.workload:
        runs = {"base": [], "change": []}
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                r = run_one(sides[side], wl, seed, args.seconds,
                            args.out / wl / f"{side}-seed{seed}")
                runs[side].append(r)
                print(f"[perf_ab] {wl} seed {seed} {side}: correct={r['correct']} "
                      f"failed={r['failed']} " + " ".join(
                          f"{k}={v['value']:.2f}" for k, v in r["metrics"].items()),
                      file=sys.stderr, flush=True)
        report[wl] = {"correct": {s: all(r["correct"] for r in rs) for s, rs in runs.items()},
                      "failed": {s: sum(r["failed"] for r in rs) for s, rs in runs.items()},
                      "metrics": {}}
        print(f"\n{wl}: {args.pairs} pairs, seeds {args.seed0}..{args.seed0 + args.pairs - 1}; "
              f"correct base={report[wl]['correct']['base']} "
              f"change={report[wl]['correct']['change']}; failed "
              f"base={report[wl]['failed']['base']} change={report[wl]['failed']['change']}")
        print(f"  {'metric':18s} {'base median [q1, q3]':>28s} "
              f"{'change median [q1, q3]':>28s}  change better")
        for m in spec["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            b = [r["metrics"][name]["value"] for r in runs["base"]]
            c = [r["metrics"][name]["value"] for r in runs["change"]]
            wins = sum((cv < bv) if lower else (cv > bv) for bv, cv in zip(b, c))
            qb, qc = quartiles(b), quartiles(c)
            report[wl]["metrics"][name] = {"base": b, "change": c, "wins": wins,
                                           "base_q": qb, "change_q": qc}
            print(f"  {name:18s} {qb[1]:10.2f} [{qb[0]:7.2f}, {qb[2]:7.2f}] "
                  f"{qc[1]:10.2f} [{qc[0]:7.2f}, {qc[2]:7.2f}]  {wins}/{len(b)}")
    (args.out / f"summary-{'-'.join(args.workload)}.json").write_text(
        json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
