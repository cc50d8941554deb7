#!/usr/bin/env python3
"""Compare the per-layer metrics of two sets of traced runs.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 11 --trace 1 --out before/1.json
    ...  (several seeds per side, same workload)
    python3 perfbench/layer_diff.py before/ after/

BEFORE and AFTER are each one run record (`--out` of a `--trace 1` run) or a
directory of them.  For every per-layer metric of BENCHMARK.json it prints
the median of each side, the change, and the run-to-run spread next to it:
the distance between the quartiles over the runs of a side, as a share of
that side's median, the wider of the two sides.  A change larger than the
spread is marked `*`; with one run on a side the spread is unknown (`-`).
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from run import per_layer  # noqa: E402


def load(path: str) -> dict[str, list[dict]]:
    """Run records under `path`, grouped by workload."""
    p = Path(path)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    out: dict[str, list[dict]] = {}
    for f in files:
        rec = json.loads(f.read_text())
        if not rec.get("layers"):
            raise SystemExit(f"{f}: not a traced run (run.py --trace 1 --out FILE)")
        out.setdefault(rec["workload"], []).append(rec)
    return out


def spread(values: list[float]) -> float | None:
    if len(values) < 2:
        return None
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / abs(med) if med else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    args = ap.parse_args(argv)
    declared = json.loads((HERE.parent / "BENCHMARK.json").read_text())["per_layer"]
    names = [m["name"] for m in declared]
    units = {m["name"]: m["unit"] for m in declared}
    before, after = load(args.before), load(args.after)
    for wl in sorted(set(before) & set(after)):
        b = [per_layer(r, names) for r in before[wl]]
        a = [per_layer(r, names) for r in after[wl]]
        print(f"{wl}: {len(b)} run(s) before, {len(a)} after")
        print(f"  {'metric':26s} {'unit':6s} {'before':>14s} {'after':>14s} {'change':>9s} {'spread':>8s}")
        for n in names:
            bv, av = [x[n] for x in b], [x[n] for x in a]
            bm, am = statistics.median(bv), statistics.median(av)
            rel = (am - bm) / abs(bm) if bm else (0.0 if am == bm else float("inf"))
            spreads = [s for s in (spread(bv), spread(av)) if s is not None]
            sp = max(spreads) if spreads else None
            mark = "*" if sp is not None and abs(rel) > sp else " "
            sp_txt = f"{sp:8.1%}" if sp is not None else f"{'-':>8s}"
            print(f"  {n:26s} {units[n]:6s} {bm:14.6g} {am:14.6g} {rel:+9.1%} {sp_txt} {mark}")
    missing = set(before) ^ set(after)
    if missing:
        print(f"workloads on one side only: {', '.join(sorted(missing))}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
