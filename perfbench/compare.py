"""Compare two sets of run records and refuse unlike configurations.

    python3 perfbench/compare.py BASE.json... --against NEW.json...

A record is the JSON file one run writes under ``.perfbench/results/``.
The comparison is refused (exit 2) when the two sets differ in workload,
cpus, input scale or trace mode, or when their input fingerprints
differ: both sides must have run the same seeds on the same inputs.
Otherwise it prints, per end-to-end metric of ``BENCHMARK.json``, each
side's median and the change, and exits 1 when a metric got worse by
more than its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

SAME = ("workload", "cpus", "scale", "trace")
BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def refusals(base: list[dict], new: list[dict]) -> list[str]:
    """Why the two sets may not be compared; empty when they may."""
    out = []
    for key in SAME:
        values = {json.dumps(r["stamps"][key]) for r in base + new}
        if len(values) > 1:
            out.append(f"{key} differs: {sorted(values)}")
    fb = sorted(r["stamps"]["input_fingerprint"] for r in base)
    fn = sorted(r["stamps"]["input_fingerprint"] for r in new)
    if fb != fn:
        out.append(f"input fingerprints differ: {fb} vs {fn}")
    return out


def changes(base: list[dict], new: list[dict], bench: dict) -> list[tuple[str, float, float, float, bool]]:
    """``(metric, base median, new median, worsening, beyond bound)``;
    worsening is the new median's change in the metric's bad direction,
    as a share of the base median."""
    rows = []
    for m in bench["end_to_end"]:
        b = statistics.median(r["metrics"][m["name"]]["value"] for r in base)
        n = statistics.median(r["metrics"][m["name"]]["value"] for r in new)
        worse = (n - b) / b if m["better"] == "lower" else (b - n) / b
        rows.append((m["name"], b, n, worse, worse > m["bound"]))
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("base", nargs="+")
    ap.add_argument("--against", nargs="+", required=True)
    args = ap.parse_args(argv)

    def load(paths):
        out = []
        for p in paths:
            with open(p) as fh:
                out.append(json.load(fh))
        return out

    base, new = load(args.base), load(args.against)
    refused = refusals(base, new)
    if refused:
        for r in refused:
            print(f"REFUSED: {r}")
        return 2
    with open(BENCHMARK) as fh:
        bench = json.load(fh)
    regressed = False
    for name, b, n, worse, beyond in changes(base, new, bench):
        regressed |= beyond
        flag = "  WORSE BEYOND BOUND" if beyond else ""
        print(f"{name:20s} base {b:12.6g}  new {n:12.6g}  worse by {worse:+.1%}{flag}")
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main())
