#!/usr/bin/env python3
"""Compare two traced runs layer by layer.

    python3 perfbench/layer_diff.py BASE NEW

BASE and NEW each hold the standard output of one traced run
(`perfbench/run.py ... --trace 1`); the last line that parses as a result is
used. Prints, per layer, every metric with its base value, the new value and
the delta, both absolute and as a share of the base, so no ratio is shown
without the number it is a ratio of.
"""
import json
import sys


def load(path):
    with open(path) as fh:
        lines = [l for l in fh.read().splitlines() if l.startswith("{")]
    for line in reversed(lines):
        try:
            doc = json.loads(line)
        except ValueError:
            continue
        if "metrics" in doc:
            return doc
    sys.exit(f"{path}: no result line")


def fmt(v):
    return f"{v:.6g}"


def diff(base, new):
    """Rows of (layer, name, unit, base, new, delta, share-of-base text)."""
    rows = []
    for name in sorted(set(base["metrics"]) | set(new["metrics"])):
        b = base["metrics"].get(name)
        n = new["metrics"].get(name)
        unit = (b or n)["unit"]
        bv = b["value"] if b else None
        nv = n["value"] if n else None
        if bv is None or nv is None:
            delta, share = None, "only in " + ("new" if bv is None else "base")
        else:
            delta = nv - bv
            share = f"{100 * delta / bv:+.1f}% of {fmt(bv)} {unit}" if bv else f"base is 0 {unit}"
        rows.append((name.split(".", 1)[0], name, unit, bv, nv, delta, share))
    return rows


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    base, new = load(argv[0]), load(argv[1])
    for side, doc in (("base", base), ("new", new)):
        print(f"{side}: correct={doc['correct']} attempted={doc['attempted']} failed={doc['failed']}")
    layer = None
    for lay, name, unit, bv, nv, delta, share in diff(base, new):
        if lay != layer:
            layer = lay
            print(f"\n[{layer}]")
        shown = "-" if delta is None else f"{delta:+.6g} {unit}"
        print(f"  {name:48s} base {fmt(bv) if bv is not None else '-':>12s}  "
              f"new {fmt(nv) if nv is not None else '-':>12s}  delta {shown:>16s}  ({share})")


if __name__ == "__main__":
    main(sys.argv[1:])
