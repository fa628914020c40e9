#!/usr/bin/env python3
"""Compare two checkouts, or check one checkout's run-to-run spread.

    python3 perfbench/compare.py pairs --parent DIR --change DIR [--pairs 10]
    python3 perfbench/compare.py spread [--checkout DIR] [--runs 10]

`pairs` runs parent and change in alternating pairs (which side goes first
alternates; both sides of a pair use the same seed) and prints, per workload,
each side's failed ops and timed-out runs, then per end-to-end metric each
side's median and quartiles, the change's win fraction (ties count for
neither side) and a verdict against the bounds in the parent's
BENCHMARK.json:

- better: the change wins at least 9 of 10 pairs and the medians differ by
  more than the parent's own interquartile distance, and the change fails no
  more ops than the parent;
- worse: the change's median is worse than the parent's by more than the
  bound, or the change timed out in more runs than the parent;
- unresolved: the parent's spread is wider than the bound, unless every
  change run beats every parent run; also a would-be gain while the change
  fails more ops;
- same: none of the above.

A run that fails ops still prints its metrics and is compared; a run that
outruns its time limit has no metrics and counts against its side.

`spread` runs one checkout on fresh seeds and prints each metric's
interquartile distance as a share of its median next to its bound.
Both take --workloads (default: all) and --seed0 (first seed).
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def load_spec(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return json.load(f)


# run.py's exit code when the harness outran its limit; the same code is
# used here for a run that outran this script's own, looser limit.
TIMED_OUT = 124
RUN_LIMIT_S = 1000


def run_once(checkout, spec, workload, seed):
    """Outcome of one run: its metrics (None if it printed no result), its
    failed and attempted ops, and whether it timed out."""
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]),
                             "--trace", "0"]
    try:
        r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                           timeout=RUN_LIMIT_S)
        rc, out, err = r.returncode, r.stdout, r.stderr
    except subprocess.TimeoutExpired:
        rc, out, err = TIMED_OUT, "", ""
    result = None
    lines = out.strip().splitlines()
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if result is None:
        if rc != TIMED_OUT:
            sys.stderr.write(f"run failed in {checkout} ({workload}, seed "
                             f"{seed}):\n{err[-2000:]}\n")
        return {"metrics": None, "failed": 0, "attempted": 0,
                "timed_out": rc == TIMED_OUT}
    return {"metrics": {k: v["value"] for k, v in result["metrics"].items()},
            "failed": result["failed"], "attempted": result["attempted"],
            "timed_out": False}


def verdict(metric, parent, change, more_failures=False):
    """better/worse/unresolved/same for paired samples of one metric."""
    lower = metric["better"] == "lower"
    bound = metric["bound"]

    def beats(a, b):
        return a < b if lower else a > b

    wins = sum(beats(c, p) for p, c in zip(parent, change))
    p1, pm, p3 = stats.quartiles(parent)
    cm = stats.median(change)
    worse_by = (cm - pm) / pm if lower else (pm - cm) / pm
    all_better = all(beats(c, p) for c in change for p in parent)
    if wins >= 0.9 * len(parent) and abs(cm - pm) > (p3 - p1):
        return ("unresolved" if more_failures else "better"), wins
    if worse_by > bound:
        return "worse", wins
    if stats.spread(parent) > bound and not all_better:
        return "unresolved", wins
    return "same", wins


def tally(outcomes):
    """(failed ops, attempted ops, timed-out runs) over a side's runs."""
    return (sum(o["failed"] for o in outcomes),
            sum(o["attempted"] for o in outcomes),
            sum(o["timed_out"] for o in outcomes))


def fmt(values):
    q1, q2, q3 = stats.quartiles(values)
    return f"{q2:.4g} [{q1:.4g}, {q3:.4g}]"


def pairs(args):
    spec = load_spec(args.parent)
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    for w in workloads:
        out = {"parent": [], "change": []}
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                out[side].append(run_once(getattr(args, side), spec, w, seed))
        both = [(p["metrics"], c["metrics"])
                for p, c in zip(out["parent"], out["change"])
                if p["metrics"] and c["metrics"]]
        pf, pa, pt = tally(out["parent"])
        cf, ca, ct = tally(out["change"])
        print(f"== {w}: {len(both)} pairs with results")
        more_failures, slower = cf > pf, ct > pt
        print(f"   failed ops: parent {pf}/{pa}, change {cf}/{ca}"
              f"{'  worse' if more_failures else ''}")
        print(f"   timed-out runs: parent {pt}, change {ct}")
        if len(both) < 4 and not slower:
            print("   too few pairs with results to compare")
            continue
        for m in spec["end_to_end"]:
            p = [r[0][m["name"]] for r in both]
            c = [r[1][m["name"]] for r in both]
            v, wins = (verdict(m, p, c, more_failures) if len(both) >= 4
                       else (None, 0))
            if slower:
                v = f"worse (timed out: change {ct}, parent {pt})"
            if len(both) >= 4:
                print(f"   {m['name']:<12} parent {fmt(p)}  change {fmt(c)}  "
                      f"wins {wins}/{len(both)}  {v} (bound {m['bound']})")
            else:
                print(f"   {m['name']:<12} {v}")


def spread(args):
    spec = load_spec(args.checkout)
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    for w in workloads:
        out = [run_once(args.checkout, spec, w, args.seed0 + i)
               for i in range(args.runs)]
        runs = [o["metrics"] for o in out if o["metrics"]]
        f, a, t = tally(out)
        print(f"== {w}: {len(runs)} runs with results; failed ops {f}/{a}; "
              f"timed out {t}")
        if len(runs) < 4:
            continue
        for m in spec["end_to_end"]:
            vals = [r[m["name"]] for r in runs]
            s = stats.spread(vals)
            flag = "ok" if s < m["bound"] / 3 else (
                "within bound" if s <= m["bound"] else "TOO WIDE")
            print(f"   {m['name']:<12} {fmt(vals)}  spread {s:.3f} "
                  f"(bound {m['bound']}) {flag}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("pairs")
    p.add_argument("--parent", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--pairs", type=int, default=10)
    s = sub.add_parser("spread")
    s.add_argument("--checkout", default=".")
    s.add_argument("--runs", type=int, default=10)
    for x in (p, s):
        x.add_argument("--workloads", nargs="*")
        x.add_argument("--seed0", type=int, default=1)
    args = ap.parse_args()
    pairs(args) if args.cmd == "pairs" else spread(args)


if __name__ == "__main__":
    main()
