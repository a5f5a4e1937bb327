#!/usr/bin/env python3
"""Self-test of the benchmark on a tiny corpus (a few minutes):

    python3 perfbench/selftest.py

Runs every workload untraced and traced through `run.main`, and asserts
that each run is correct and prints every metric BENCHMARK.json names,
with its unit, on its own line and in the result line. Then corrupts one
expected row and asserts that the check reports a failure (fail_rate > 0).
The tiny pool, its pins and its cache live in their own directory, apart
from the real ones.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import corpus  # noqa: E402
import e2e  # noqa: E402
import run  # noqa: E402


def use_tiny_pool() -> None:
    corpus.POOL = dict(n_convs=60, max_turns=40, seed=7)
    corpus.SAMPLE_BYTES = 1_500_000
    corpus.WARMUP_CONVS = 10
    corpus.CACHE = os.path.join(corpus.CACHE, "selftest")
    corpus.PINS_PATH = os.path.join(corpus.CACHE, "pins.json")
    os.makedirs(corpus.CACHE, exist_ok=True)
    with open(corpus.PINS_PATH, "w") as f:
        json.dump(corpus.current_pins(), f)


def check_run(workload: str, trace: int, wanted: list) -> None:
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = run.main(["--workload", workload, "--seed", "3",
                       "--seconds", "0.5", "--trace", str(trace)])
    lines = out.getvalue().splitlines()
    result = json.loads(lines[-1])
    assert rc == 0 and result["correct"], (workload, trace, result)
    assert set(result["metrics"]) == {m["name"] for m in wanted}, result
    printed = {ln.split()[0]: ln.split()[-1] for ln in lines[:-1]}
    assert printed["fail_rate"] == "ratio"
    for m in wanted:
        assert result["metrics"][m["name"]]["unit"] == m["unit"], m
        assert printed[m["name"]] == m["unit"], m
    print(f"ok: {workload} trace={trace}: {len(wanted)} metrics")


def check_corruption_counts() -> None:
    inp = corpus.prepare("plain_mix", 3)
    key = next(iter(inp.expected))
    text, n_spans, n_blocks = inp.expected[key]
    inp.expected[key] = (text + " corrupted", n_spans, n_blocks)
    spark, _ = e2e.set_up("plain_mix", inp.warmup_path)
    try:
        failed = e2e.count_failures(e2e.run_op(spark, "plain_mix", inp.path),
                                    inp, struct=False)
    finally:
        e2e.stop_jvm()
    assert failed == 1, failed
    print(f"ok: one corrupted expected row gives fail_rate "
          f"{failed / inp.n_turns:.4g} > 0")


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    use_tiny_pool()
    e2e.confine_temp_files()
    for w in spec["workloads"]:
        check_run(w["name"], 0, spec["end_to_end"])
        check_run(w["name"], 1, spec["per_layer"])
    check_corruption_counts()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
