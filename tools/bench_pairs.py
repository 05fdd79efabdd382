#!/usr/bin/env python3
"""Alternating before/after runs of one perfbench workload.

    python3 tools/bench_pairs.py <parentCheckout> <changeCheckout> <workload> <pairs>

Builds both checkouts first (perfbench's own build step, so no run pays for
a compile), then runs `perfbench/run.py --workload <workload>` in each
checkout, `pairs` times, untraced. Pair i uses seed i on both sides, and
the side that goes first alternates between pairs, so slow drift of the
host load falls on both sides alike. Prints every run's end-to-end metrics
and wall time as it finishes, then per metric the two medians, the change,
the parent's quartile spread and how many pairs the change won.
"""
import json
import os
import statistics
import subprocess
import sys
import time

METRICS = ["setup_s", "peak_rss_mb", "load_s", "serve_s", "wall_s"]


def build(checkout):
    code = "import sys; sys.path.insert(0, 'perfbench'); import run; run.build()"
    subprocess.run([sys.executable, "-c", code], cwd=checkout, check=True,
                   stdin=subprocess.DEVNULL)


def run_once(checkout, workload, seed):
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
    row = {k: v["value"] for k, v in out["metrics"].items() if k in METRICS}
    row.update(ok=out["correct"], failed=out["failed"], attempted=out["attempted"], wall_s=wall)
    return row


def spread(xs):
    if len(xs) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q3 - q1


def main(parent, change, workload, pairs):
    sides = {"parent": os.path.abspath(parent), "change": os.path.abspath(change)}
    for path in sides.values():
        build(path)
    runs = {"parent": [], "change": []}
    for i in range(1, pairs + 1):
        order = ["parent", "change"] if i % 2 else ["change", "parent"]
        for side in order:
            row = run_once(sides[side], workload, i)
            runs[side].append(row)
            shown = " ".join(f"{k}={row[k]:.2f}" for k in METRICS if k in row)
            print(f"pair {i} {side:6s} ok={row['ok']} failed={row.get('failed', '-')} {shown}",
                  flush=True)
    print(f"{workload}: {pairs} pairs, medians parent -> change")
    for k in METRICS:
        a = [r[k] for r in runs["parent"] if r["ok"] and k in r]
        b = [r[k] for r in runs["change"] if r["ok"] and k in r]
        if not a or not b:
            continue
        ma, mb = statistics.median(a), statistics.median(b)
        wins = sum(1 for x, y in zip(runs["parent"], runs["change"])
                   if x["ok"] and y["ok"] and k in x and k in y and y[k] < x[k])
        print(f"  {k:12s} {ma:9.2f} -> {mb:9.2f}  ({(mb - ma) / ma:+.1%})"
              f"  parent IQR {spread(a):.2f}  change lower in {wins}/{pairs} pairs")
    bad = sum(1 for rs in runs.values() for r in rs if not r["ok"])
    print(f"  runs not correct or failed: {bad}")


if __name__ == "__main__":
    if len(sys.argv) != 5:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4]))
