#!/usr/bin/env python3
"""Compare two traced runs layer by layer.

  python3 perfbench/layer_diff.py <before> <after>

Each side is a traced-run artifact: a `<workload>.trace.json` file, or a
directory of them (what `run.py --trace 1 --artifacts DIR` leaves). For
every workload present on either side, prints every per-layer metric and
the end-to-end metrics of that run side by side with the difference.
"""
import json
import sys
from pathlib import Path


def load(path):
    p = Path(path)
    files = sorted(p.glob("*.trace.json")) if p.is_dir() else [p]
    if not files:
        raise SystemExit(f"layer_diff: no *.trace.json under {p}")
    out = {}
    for f in files:
        art = json.loads(f.read_text())
        out[art["workload"]] = {**{f"e2e.{k}": v for k, v in art["metrics"].items()}, **art["layers"]}
    return out


def fmt(v):
    return "-" if v is None else f"{v:.4f}"


def diff_rows(a, b):
    rows = []
    for name in list(a) + [k for k in b if k not in a]:
        va, vb = a.get(name), b.get(name)
        d = None if va is None or vb is None else vb - va
        rel = "" if d is None or not va else f"{100 * d / va:+.1f}%"
        rows.append((name, fmt(va), fmt(vb), fmt(d), rel))
    return rows


def main(argv):
    if len(argv) != 2:
        raise SystemExit(__doc__)
    a, b = load(argv[0]), load(argv[1])
    for w in sorted(set(a) | set(b)):
        print(f"== {w}")
        rows = [("metric", "before", "after", "diff", "")] + diff_rows(a.get(w, {}), b.get(w, {}))
        widths = [max(len(r[i]) for r in rows) for i in range(5)]
        for r in rows:
            print("  ".join(c.ljust(widths[0]) if i == 0 else c.rjust(widths[i]) for i, c in enumerate(r)))


if __name__ == "__main__":
    main(sys.argv[1:])
