#!/usr/bin/env python3
"""Alternating before/after runs of one perfbench workload, with a verdict
per end-to-end metric.

    python3 tools/bench_pairs.py <parentCheckout> <changeCheckout> <workload> <pairs>

Builds both checkouts first (perfbench's own build step, so no run pays for
a compile), then runs `perfbench/run.py --workload <workload>` in each
checkout, `pairs` times, untraced. Pair i uses seed i on both sides, and
the side that goes first alternates between pairs, so slow drift of the
host load falls on both sides alike. Prints every run's end-to-end metrics
and wall time as it finishes, then per metric the two medians, the change,
the parent's quartile spread, how many pairs the change won and a verdict.

Verdict rule, per end-to-end metric with its `bound` from BENCHMARK.json
(a share of the parent's median), taken in this order:
  unresolved  the parent's quartile spread (Q3 - Q1 of its runs), as a
              share of its median, is wider than the bound: the host's
              own noise would hide a change of the bound's size. Not
              when the two sides do not overlap (every change run better,
              or every change run worse, than every parent run);
  win         the change's median is better by more than the parent's
              quartile spread, at least 10 pairs were run, and the change
              is better in at least 9/10 of them (a tie counts for
              neither side);
  loss        the change's median is worse than the parent's by more than
              the bound;
  flat        anything else.
Only correct runs count. `wall_s` (the whole run, JVM start included) has
no bound and gets no verdict. The script exits 1 if any run was not correct,
crashed or reported failed operations.
"""
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def end_to_end():
    """name -> (bound, better) of each end-to-end metric in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: (m["bound"], m["better"]) for m in spec["end_to_end"]}


def build(checkout):
    code = "import sys; sys.path.insert(0, 'perfbench'); import run; run.build()"
    subprocess.run([sys.executable, "-c", code], cwd=checkout, check=True,
                   stdin=subprocess.DEVNULL)


def run_once(checkout, workload, seed, metrics):
    t0 = time.monotonic()
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "5", "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        stdin=subprocess.DEVNULL)
    wall = time.monotonic() - t0
    lines = [l for l in res.stdout.splitlines() if l.startswith('{"correct"')]
    if res.returncode != 0 or not lines:
        return {"ok": False, "wall_s": wall}
    out = json.loads(lines[-1])
    row = {k: v["value"] for k, v in out["metrics"].items() if k in metrics}
    row.update(ok=out["correct"], failed=out["failed"], attempted=out["attempted"], wall_s=wall)
    return row


def spread(xs):
    if len(xs) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q3 - q1


def verdict(parent, change, wins, pairs, bound, better):
    """The rule in the module docstring; the change was better in `wins` of
    the `pairs` pairs whose two runs were correct."""
    ma, mb = statistics.median(parent), statistics.median(change)
    worse = (mb - ma) / ma if better == "lower" else (ma - mb) / ma
    apart = max(change) < min(parent) or min(change) > max(parent)
    if not spread(parent) / ma <= bound and not apart:
        return "unresolved"
    if worse < 0 and abs(mb - ma) > spread(parent) and pairs >= 10 and 10 * wins >= 9 * pairs:
        return "win"
    if worse > bound:
        return "loss"
    return "flat"


def main(parent, change, workload, pairs):
    bounds = end_to_end()
    metrics = list(bounds) + ["wall_s"]
    sides = {"parent": os.path.abspath(parent), "change": os.path.abspath(change)}
    for path in sides.values():
        build(path)
    runs = {"parent": [], "change": []}
    for i in range(1, pairs + 1):
        order = ["parent", "change"] if i % 2 else ["change", "parent"]
        for side in order:
            row = run_once(sides[side], workload, i, metrics)
            runs[side].append(row)
            shown = " ".join(f"{k}={row[k]:.2f}" for k in metrics if k in row)
            print(f"pair {i} {side:6s} ok={row['ok']} failed={row.get('failed', '-')} {shown}",
                  flush=True)
    print(f"{workload}: {pairs} pairs, medians parent -> change")
    for k in metrics:
        a = [r[k] for r in runs["parent"] if r["ok"] and k in r]
        b = [r[k] for r in runs["change"] if r["ok"] and k in r]
        if not a or not b:
            continue
        ma, mb = statistics.median(a), statistics.median(b)
        bound, better = bounds.get(k, (None, "lower"))
        both = [(x[k], y[k]) for x, y in zip(runs["parent"], runs["change"])
                if x["ok"] and y["ok"] and k in x and k in y]
        wins = sum(1 for x, y in both if (y < x if better == "lower" else y > x))
        said = "" if bound is None else f"  {verdict(a, b, wins, len(both), bound, better)}"
        print(f"  {k:12s} {ma:9.2f} -> {mb:9.2f}  ({(mb - ma) / ma:+.1%})"
              f"  parent IQR {spread(a):.2f}  change better in {wins}/{len(both)} pairs{said}")
    bad = sum(1 for rs in runs.values() for r in rs if not r["ok"] or r.get("failed"))
    print(f"  runs not correct or with failed operations: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 5:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])))
