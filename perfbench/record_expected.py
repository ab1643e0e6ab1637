#!/usr/bin/env python3
"""Record ``kgrec_e2e``'s per-model MAP/nDCG@5 for the seeds already run.

    python3 perfbench/record_expected.py

Reads every ``.bench_out/kgrec_e2e-seed<n>-trace0.json`` sidecar of a
full-size run whose checks passed, adds each seed's values to
``perfbench/expected_kgrec.json`` (a seed already recorded is left as
it is), and widens each model's band to half the smallest and 1.5x the
largest value recorded. The check in wl_kgrec.py holds each model to
its band.
"""

from __future__ import annotations

import glob
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXPECTED = os.path.join(HERE, "expected_kgrec.json")


def main() -> int:
    with open(EXPECTED) as fh:
        table = json.load(fh)
    full = table["full"]
    added = 0
    for path in sorted(glob.glob(os.path.join(ROOT, ".bench_out", "kgrec_e2e-seed*-trace0.json"))):
        with open(path) as fh:
            side = json.load(fh)
        if side.get("size") != "full" or side.get("failures") or not side.get("observed"):
            continue
        if str(side["seed"]) not in full["seeds"]:
            full["seeds"][str(side["seed"])] = side["observed"]
            added += 1
    for model in full["bands"]:
        vals = [v for rec in full["seeds"].values() for v in rec[model]]
        if vals:
            full["bands"][model] = [round(0.5 * min(vals), 6), round(min(1.0, 1.5 * max(vals)), 6)]
    with open(EXPECTED, "w") as fh:
        json.dump(table, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"recorded {added} new seeds; {len(full['seeds'])} in total")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
