"""Per-workload, per-metric deltas between two sets of benchmark results.

    python3 perfbench/diff.py BASE NEW

BASE and NEW are result files written by ``run.py`` (``.perfbench_out/``)
or directories of them. Where a side holds several runs of one workload
and trace mode (several seeds), each metric is their median. Output lists
each workload's end-to-end metrics (``--trace 0`` runs) first, then its
per-layer metrics (``--trace 1`` runs): base, new, delta and delta as a
share of base.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics


def load(path: str) -> dict:
    """(workload, trace) -> metric -> (median value, unit, runs)."""
    files = (sorted(glob.glob(os.path.join(path, "*.json")))
             if os.path.isdir(path) else [path])
    runs: dict = {}
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        key = (r["workload"], r["trace"])
        for name, m in r["metrics"].items():
            runs.setdefault(key, {}).setdefault(name, (m["unit"], []))[1] \
                .append(m["value"])
    return {key: {name: (statistics.median(v), unit, len(v))
                  for name, (unit, v) in ms.items()}
            for key, ms in runs.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    args = ap.parse_args(argv)
    base, new = load(args.base), load(args.new)
    for workload in sorted({w for w, _ in base} | {w for w, _ in new}):
        for trace, title in ((0, "end-to-end"), (1, "per layer")):
            a = base.get((workload, trace), {})
            b = new.get((workload, trace), {})
            if not a and not b:
                continue
            print(f"== {workload} · {title}")
            print(f"{'metric':<36} {'unit':<6} {'base':>12} {'new':>12} "
                  f"{'delta':>12} {'delta%':>8}")
            for name in list(a) + [n for n in b if n not in a]:
                va = a.get(name, (None,))[0]
                vb = b.get(name, (None,))[0]
                unit = (a.get(name) or b.get(name))[1]
                if va is None or vb is None:
                    print(f"{name:<36} {unit:<6} {_fmt(va):>12} "
                          f"{_fmt(vb):>12}")
                    continue
                pct = f"{100 * (vb - va) / va:+.1f}%" if va else ""
                print(f"{name:<36} {unit:<6} {va:>12.6g} {vb:>12.6g} "
                      f"{vb - va:>+12.4g} {pct:>8}")
    return 0


def _fmt(v) -> str:
    return "-" if v is None else f"{v:.6g}"


if __name__ == "__main__":
    raise SystemExit(main())
