#!/usr/bin/env python3
"""A/B a change against its parent with alternating perfbench pairs.

Usage: python3 dev/ab_pairs.py <parent_checkout> <change_checkout>
           --workload W --pairs N [--seconds S] [--first-seed K]

Pair i runs `python3 perfbench/run.py --workload W --seed K+i --seconds S
--trace 0` once in each checkout, one after the other; odd seeds run the
parent first and even seeds the change first, so a drift in the host's
load does not favour one side. It then prints, for every end-to-end
metric that BENCHMARK.json (in the change checkout) declares: the
parent's median with its quartiles, the change's median, the relative
change of the medians, and in how many pairs the change was better.
Every run's `correct`/`failed` fields are checked and reported too.

It only calls perfbench/run.py in each checkout; it imports nothing from
perfbench/ and writes nothing outside the checkouts' own build dirs.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        sys.exit(f"ab_pairs: run failed in {checkout} (seed {seed}, exit {p.returncode})")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        e2e = json.load(f)["end_to_end"]
    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        seed = a.first_seed + i
        order = ("parent", "change") if seed % 2 else ("change", "parent")
        for side in order:
            r = run(getattr(a, side), a.workload, seed, a.seconds)
            runs[side].append(r)
            vals = " ".join(f"{m['name']}={r['metrics'][m['name']]['value']:.4g}"
                            for m in e2e if m["name"] in r["metrics"])
            sys.stderr.write(f"[ab] seed {seed} {side}: correct={r['correct']} "
                             f"failed={r['failed']} {vals}\n")

    for side, rs in runs.items():
        ok = sum(1 for r in rs if r["correct"] and r["failed"] == 0)
        print(f"{side}: {ok}/{len(rs)} runs correct with 0 failed")
    print("metric: parent median [q1, q3] -> change median, relative change, "
          "pairs the change won")
    for m in e2e:
        name = m["name"]
        if not all(name in r["metrics"] for r in runs["parent"] + runs["change"]):
            continue
        p = [r["metrics"][name]["value"] for r in runs["parent"]]
        c = [r["metrics"][name]["value"] for r in runs["change"]]
        pm, cm = statistics.median(p), statistics.median(c)
        q1, q3 = quartiles(p)
        rel = (cm - pm) / pm if pm else float("nan")
        lower = m["better"] == "lower"
        won = sum(1 for x, y in zip(p, c) if (y < x if lower else y > x))
        print(f"{name}: {pm:.4g} [{q1:.4g}, {q3:.4g}] -> {cm:.4g}, {rel:+.1%}, "
              f"won {won}/{len(p)}")


if __name__ == "__main__":
    main()
