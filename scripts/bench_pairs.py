#!/usr/bin/env python3
"""Paired benchmark comparison of two checkouts.

Usage: python3 scripts/bench_pairs.py <parent> <change> --workload W
           [--workload W2 ...] --pairs N --seed0 S [--seconds 15]
           [--out results.json]

<parent> and <change> are the roots of two full checkouts (for example a
`git archive` of the parent commit and the working tree). Pair i runs
`perfbench/run.py --workload W --seed S+i --trace 0` once in each
checkout, parent first in even pairs and change first in odd ones, so
drifting host load falls on both sides alike. Each checkout builds into
its own `.bench_build/`; this script writes nothing else except `--out`.

For each workload and each end-to-end metric of the change's
BENCHMARK.json it prints the medians and quartiles of both sides, the
relative change of the medians and the number of pairs the change won.
The claim rule holds when the change wins at least 9 pairs in 10 and its
median is better than the parent's by more than the parent's
interquartile range. Next to it each metric gets a no-regression verdict
against its `bound` (a fraction of the parent's median): it holds when
the change's median is worse than the parent's by no more than the
bound, and it is unresolved when the parent's IQR divided by its median
is wider than the bound, unless every change run beats every parent run.
The wall-clock figures of the run detail files (`samples.wall`, not
gated) are printed the same way, without either rule.

Exits 1 if any run is incorrect, has failed operations or does not
finish; neither rule changes the exit status.
"""
import argparse
import json
import math
import os
import subprocess
import sys

CLAIM_WINS = 0.9


def quantile(values, q):
    """q-quantile, linear between the two nearest ranks."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def run_once(root, workload, seed, seconds):
    """One perfbench run in `root`: (result line, detail record)."""
    env = dict(os.environ)
    # a shared build directory would make the two checkouts rebuild each
    # other's engine on every run
    env.pop("CARGO_TARGET_DIR", None)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=root, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        return None, None
    result = json.loads(lines[-1])
    detail_path = os.path.join(root, ".bench_build", "results",
                               f"{workload}-seed{seed}-trace0.json")
    with open(detail_path) as f:
        detail = json.load(f)
    return result, detail


def claim_holds(parent, change, better):
    """(holds, wins, gap, parent IQR) of the claim rule: the change wins
    at least CLAIM_WINS of the pairs and its median beats the parent's by
    more than the parent's interquartile range."""
    sign = 1.0 if better == "lower" else -1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    gap = sign * (quantile(parent, 0.5) - quantile(change, 0.5))
    iqr = quantile(parent, 0.75) - quantile(parent, 0.25)
    holds = wins >= math.ceil(CLAIM_WINS * len(parent)) and gap > iqr
    return holds, wins, gap, iqr


def no_regression(parent, change, better, bound):
    """Verdict "holds", "fails" or "unresolved": the change's median may
    be worse than the parent's by at most `bound` of the parent's median;
    a parent IQR wider than `bound` of its median leaves the verdict
    unresolved, unless every change run beats every parent run."""
    sign = 1.0 if better == "lower" else -1.0
    pm = quantile(parent, 0.5)
    spread = (quantile(parent, 0.75) - quantile(parent, 0.25)) / abs(pm)
    every_run_beats = all(sign * (p - c) > 0 for p in parent for c in change)
    if spread > bound and not every_run_beats:
        return "unresolved"
    worse = sign * (quantile(change, 0.5) - pm) / abs(pm)
    return "holds" if worse <= bound else "fails"


def summarize(name, parent, change, better, bound=None):
    """Report line for one metric over paired values; `better` is
    "lower", "higher" or None (information only, no rule)."""
    pm, cm = quantile(parent, 0.5), quantile(change, 0.5)
    pq1, pq3 = quantile(parent, 0.25), quantile(parent, 0.75)
    cq1, cq3 = quantile(change, 0.25), quantile(change, 0.75)
    rel = (cm - pm) / pm * 100.0 if pm else float("nan")
    line = (f"  {name:<14} parent {pm:10.2f} [{pq1:.2f}-{pq3:.2f}]  "
            f"change {cm:10.2f} [{cq1:.2f}-{cq3:.2f}]  {rel:+6.1f}%")
    if better is None:
        return line
    holds, wins, gap, iqr = claim_holds(parent, change, better)
    line += (f"  wins {wins}/{len(parent)}  gap {gap:.2f} vs parent IQR "
             f"{iqr:.2f}: claim rule {'holds' if holds else 'fails'}")
    if bound is not None:
        line += (f"; no regression beyond {bound:g}: "
                 f"{no_regression(parent, change, better, bound)}")
    return line


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--out", help="write every run's metrics here (JSON)")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        gated = {m["name"]: (m["better"], m.get("bound"))
                 for m in json.load(f)["end_to_end"]}
    sides = {"parent": a.parent, "change": a.change}
    runs = {w: {s: [] for s in sides} for w in a.workload}
    bad = 0
    for w in a.workload:
        for i in range(a.pairs):
            seed = a.seed0 + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                result, detail = run_once(sides[side], w, seed, a.seconds)
                ok = bool(result and result["correct"]
                          and result["failed"] == 0)
                bad += not ok
                record = {"seed": seed, "ok": ok,
                          "metrics": {k: v["value"] for k, v in
                                      (result or {}).get("metrics", {}).items()},
                          "wall": (detail or {}).get("samples", {})
                          .get("wall", {}),
                          "steal_pct": (detail or {}).get("host_steal_pct")}
                runs[w][side].append(record)
                print(f"[pairs] {w} pair {i + 1}/{a.pairs} seed {seed} {side}: "
                      f"{'ok' if ok else 'INCORRECT'} {record['metrics']}",
                      file=sys.stderr, flush=True)
    for w in a.workload:
        print(f"{w}: {a.pairs} pairs, seeds {a.seed0}-{a.seed0 + a.pairs - 1}")
        pairs = [(p, c) for p, c in zip(runs[w]["parent"], runs[w]["change"])
                 if p["ok"] and c["ok"]]
        if not pairs:
            print("  no pair with two correct runs")
            continue
        for name, (better, bound) in gated.items():
            print(summarize(name, [p["metrics"][name] for p, _ in pairs],
                            [c["metrics"][name] for _, c in pairs], better,
                            bound))
        for name in sorted(pairs[0][0]["wall"]):
            print(summarize("wall." + name,
                            [p["wall"][name] for p, _ in pairs],
                            [c["wall"][name] for _, c in pairs], None))
    if a.out:
        with open(a.out, "w") as f:
            json.dump(runs, f, indent=1)
    if bad:
        print(f"{bad} run(s) incorrect, with failed operations or unfinished",
              file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
