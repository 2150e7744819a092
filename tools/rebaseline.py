"""Emit bench.py BASELINES / BASELINES_RAW dict bodies from bench runs.

Usage: python tools/rebaseline.py <bench_json> [<bench_json> ...]

Each input is a bench_last.json-style payload (the one-line JSON the
bench prints).  For every query seen in any run, the MIN raw and min
normalized seconds across the runs are printed as two dict bodies ready
to paste into bench.py, plus the calibration range of the runs
(provenance for the baseline block's comment).  Min, not median: the
host throttles multi-core stages in bursts, so a burst-inflated
baseline would hide real regressions, while the per-gate minimum is the
steady-state number the regression gate compares against (bench.py's
baseline comment).
"""

from __future__ import annotations

import json
import sys


def main() -> None:
    runs = [json.load(open(p)) for p in sys.argv[1:]]
    if not runs:
        raise SystemExit("usage: rebaseline.py <bench_json> ...")
    raw: dict[str, list[float]] = {}
    norm: dict[str, list[float]] = {}
    for run in runs:
        for name, sec in (run.get("queries") or {}).items():
            raw.setdefault(name, []).append(sec)
        for name, sec in (run.get("queries_normalized") or {}).items():
            norm.setdefault(name, []).append(sec)
    calibs = [r["calib_md5_100k_sec"] for r in runs if "calib_md5_100k_sec" in r]
    if calibs:
        print(f"# md5 calib of {len(runs)} run(s): "
              f"[{min(calibs):.4f}, {max(calibs):.4f}] (ref 0.0664)")
    print(f"# per-query minima over {len(runs)} run(s)")
    print("BASELINES = {")
    for name in raw:
        if name in norm:
            print(f'    "{name}": ({min(norm[name]):.3f}, 13),')
    print("}")
    print("BASELINES_RAW = {")
    for name in raw:
        print(f'    "{name}": {min(raw[name]):.3f},')
    print("}")


if __name__ == "__main__":
    main()
