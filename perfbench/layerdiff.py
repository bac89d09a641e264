#!/usr/bin/env python3
"""Compare traced benchmark records workload by workload, layer by layer.

    python3 perfbench/layerdiff.py BEFORE AFTER [--all]

BEFORE and AFTER are each a traced record written by ``run.py --trace 1``
or a directory of them (``.perfbench_work/records``).  For every workload
traced on both sides, each per-layer metric's median over that side's
records is printed with the change and the after/before ratio.  Metrics
equal on both sides are left out unless ``--all`` is given.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys


def load(path: str) -> dict[str, list[dict]]:
    """Workload -> per-layer metric dicts of the traced records at ``path``."""
    files = (
        sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    )
    out: dict[str, list[dict]] = {}
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        if rec.get("layers"):
            out.setdefault(rec["workload"], []).append(rec["layers"])
    return out


def medians(layers: list[dict]) -> dict[str, float]:
    keys = {k for d in layers for k in d}
    return {k: statistics.median(d[k] for d in layers if k in d) for k in keys}


def diff(before: dict, after: dict, show_all: bool = False) -> list[tuple]:
    """(workload, metric, before, after, change, ratio) rows; ratio is None
    when the before value is 0."""
    rows = []
    for wl in sorted(set(before) & set(after)):
        a, b = medians(before[wl]), medians(after[wl])
        for k in sorted(set(a) & set(b)):
            if a[k] == b[k] and not show_all:
                continue
            ratio = b[k] / a[k] if a[k] else None
            rows.append((wl, k, a[k], b[k], b[k] - a[k], ratio))
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--all", action="store_true", help="also print unchanged metrics")
    args = ap.parse_args(argv)
    before, after = load(args.before), load(args.after)
    common = set(before) & set(after)
    if not common:
        print("no workload is traced on both sides", file=sys.stderr)
        return 1
    for side, recs in (("before", before), ("after", after)):
        for wl in sorted(set(recs) - common):
            print(f"{wl}: traced only {side}; skipped")
    print(f"{'workload':<12} {'metric':<36} {'before':>14} {'after':>14} "
          f"{'change':>14} {'ratio':>8}")
    for wl, k, a, b, d, r in diff(before, after, args.all):
        ratio = f"{r:.3f}" if r is not None else "-"
        print(f"{wl:<12} {k:<36} {a:>14.4g} {b:>14.4g} {d:>+14.4g} {ratio:>8}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
