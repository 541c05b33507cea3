#!/usr/bin/env python3
"""Diff two benchmark result files by workload and by layer.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds records appended by perfbench/run.py (one JSON object per
line, <build>/results.jsonl). For every workload and metric present in
both, prints the median over each file's runs with its run count and its
spread (interquartile distance / median), and the ratio new/base together
with its base. Per-layer metrics are grouped by layer (the module name
before the dot).
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def load(path):
    """{(workload, trace): {metric: ([values], unit)}}"""
    out = {}
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            r = json.loads(line)
            if not r["result"]["correct"]:
                continue
            per = out.setdefault((r["workload"], r["trace"]), {})
            for name, m in r["result"]["metrics"].items():
                per.setdefault(name, ([], m["unit"]))[0].append(m["value"])
    return out


def compare(base, new):
    """Rows of (workload, group, metric, unit, base_median, n_base,
    base_spread, new_median, n_new, new_spread, ratio) for metrics present
    in both."""
    rows = []
    for key in sorted(set(base) & set(new)):
        workload, trace = key
        for name in sorted(set(base[key]) & set(new[key])):
            bv, unit = base[key][name]
            nv, _ = new[key][name]
            b, n = stats.median(bv), stats.median(nv)
            group = name.split(".")[0] if trace else "end_to_end"
            ratio = n / b if b else None
            rows.append((workload, group, name, unit, b, len(bv), stats.spread(bv),
                         n, len(nv), stats.spread(nv), ratio))
    return rows


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    rows = compare(load(sys.argv[1]), load(sys.argv[2]))
    print(f"{'workload':<12} {'layer':<14} {'metric':<28} {'base':>12} {'n':>3} "
          f"{'spread':>7} {'new':>12} {'n':>3} {'spread':>7}  ratio new/base")
    for w, g, name, unit, b, nb, sb, n, nn, sn, ratio in rows:
        r = f"{ratio:.3f} (base {b:.4g} {unit})" if ratio is not None \
            else f"n/a (base {b:.4g} {unit})"
        print(f"{w:<12} {g:<14} {name:<28} {b:>12.4f} {nb:>3} {sb:>7.3f} "
              f"{n:>12.4f} {nn:>3} {sn:>7.3f}  {r}")


if __name__ == "__main__":
    main()
