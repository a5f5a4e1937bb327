#!/usr/bin/env python3
"""Repository benchmark: extraction pipelines on Spark at local[2].

    python3 perfbench/run.py --workload plain_mix --seed 1 --seconds 15 --trace 0

With `--trace 0` a run measures the end-to-end metrics (e2e.py): set-up,
a checked warm-up pass, then `--seconds` of timed steady passes. With
`--trace 1` it measures the per-layer metrics instead (trace_layers.py),
repeating each Spark pass a fixed number of times. Both check every
output row. The last line of stdout is one JSON object with the keys
correct, attempted, failed and metrics. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

import corpus  # noqa: E402
import e2e  # noqa: E402
import trace_layers  # noqa: E402

WORKLOADS = ("plain_mix", "struct_links")


def report(failed: int, attempted: int, metrics: dict) -> int:
    """Print every metric by name and unit, then the result line."""
    print(f"fail_rate {failed / attempted:.6g} ratio")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    e2e.confine_temp_files()
    inp = corpus.prepare(args.workload, args.seed)
    e2e.log(f"{args.workload} seed {args.seed}: {inp.n_turns} input turns")
    try:
        failed, metrics = (trace_layers.measure if args.trace else e2e.measure)(
            inp, args.seconds)
    except Exception:
        # a run that raises counts every turn as failed
        traceback.print_exc()
        failed, metrics = inp.n_turns, {}
    finally:
        e2e.stop_jvm()
    return report(min(failed, inp.n_turns), inp.n_turns, metrics)


if __name__ == "__main__":
    sys.exit(main())
