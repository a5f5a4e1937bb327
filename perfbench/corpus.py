"""Benchmark inputs: a pinned corpus pool, seeded run samples, expected output.

The pool is generated once per checkout with
`pdftext_spark.sources.fixtures.generate_transcripts` and cached under
`perfbench/.cache/`. Its row count and content hash must equal the values
in `perfbench/pins.json`; a mismatch stops the benchmark, so an edit to the
generator cannot silently move the baseline. A canary (the first
`CANARY_CONVS` conversations) is regenerated on every run and checked the
same way, which also catches a cache left over from an older generator.

The run's seed picks which of the pool's conversations, up to a fixed
text size, form the input and the order they are written in. The same
seed gives the same input file. Expected output is computed once per
pool: from `tests/oracle_naive.py` for document turns and from the
generator's own facts for HTML turns.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import sys
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
PINS_PATH = os.path.join(HERE, "pins.json")
ORACLE_PATH = os.path.join(REPO, "tests", "oracle_naive.py")

# the generator's default turn mix: the first 3,000 conversations of the
# seed the package's fixtures use
POOL = dict(n_convs=3000, max_turns=400, seed=7)
# Text bytes of one run's input. A fixed size, not a share of conversations,
# keeps the scan's partition count (6 of the session's 4 MB splits) the
# same for every seed.
SAMPLE_BYTES = 86_000_000
WARMUP_CONVS = 60      # fixed warm-up slice: the pool's first conversations
CANARY_CONVS = 40
# rows per row group of a run's input: small against the 4 MB scan split,
# so the scan partitions come out even
ROW_GROUP = 250

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])
EXPECTED_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("text", pa.string()),
    ("n_spans", pa.int32()),
    ("n_blocks", pa.int32()),
])


class PinMismatch(RuntimeError):
    pass


@dataclass
class RunInput:
    workload: str
    seed: int
    path: str              # parquet input of this run
    warmup_path: str       # fixed warm-up slice of the pool
    n_turns: int
    expected: dict         # (conv_id, turn_idx) -> (text, n_spans, n_blocks)


def _row_digest(h, row: dict) -> None:
    h.update("\x1f".join([row["conv_id"], str(row["turn_idx"]), row["role"],
                          row["tool"] or "", row["ts"].isoformat(),
                          row["text"]]).encode("utf-8"))
    h.update(b"\x1e")


def _pool_rows(n_convs: int):
    from pdftext_spark.sources.fixtures import generate_transcripts
    return generate_transcripts(n_convs, POOL["max_turns"], POOL["seed"])


def _digest(rows) -> tuple[int, str]:
    h = hashlib.sha256()
    n = 0
    for row, _ in rows:
        _row_digest(h, row)
        n += 1
    return n, h.hexdigest()


def _check_pin(what: str, got: tuple[int, str], pins: dict) -> None:
    want = pins[what]
    if [got[0], got[1]] != [want["rows"], want["sha256"]]:
        raise PinMismatch(
            f"corpus {what}: generated {got[0]} rows sha256 {got[1]}, "
            f"pinned {want['rows']} rows sha256 {want['sha256']} in "
            f"{PINS_PATH}; the corpus generator changed, so this baseline "
            "no longer applies")


def _oracle_fingerprint() -> str:
    with open(ORACLE_PATH, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _expected_row(row: dict, facts: dict) -> dict:
    from tests.oracle_naive import build_page, merge_text_naive
    key = {"conv_id": row["conv_id"], "turn_idx": row["turn_idx"]}
    if row["role"] == "tool":
        return {**key, "text": facts["html_main"], "n_spans": 0, "n_blocks": 0}
    page = build_page(row["text"], row["turn_idx"])
    return {**key, "text": merge_text_naive(page).strip(),
            "n_spans": sum(len(ln["spans"]) for b in page["blocks"]
                           for ln in b["lines"]),
            "n_blocks": len(page["blocks"])}


def _write(path: str, rows: list, schema: pa.Schema) -> None:
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path,
                   row_group_size=ROW_GROUP)


def ensure_pool() -> str:
    """Generate (once) the pool's transcripts, warm-up slice and expected
    output; return its cache dir."""
    out = os.path.join(CACHE, "pool")
    marker = os.path.join(out, "_COMPLETE")
    stamp = json.dumps({"pool": POOL, "oracle": _oracle_fingerprint()},
                       sort_keys=True)
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == stamp:
                return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    print(f"generating the corpus pool ({POOL['n_convs']} conversations)",
          file=sys.stderr)
    rows, expected, warm = [], [], []
    h = hashlib.sha256()
    warm_ids = {f"conv-{i:06d}" for i in range(WARMUP_CONVS)}
    for row, facts in _pool_rows(POOL["n_convs"]):
        _row_digest(h, row)
        rows.append(row)
        expected.append(_expected_row(row, facts))
        if row["conv_id"] in warm_ids:
            warm.append(row)
    _write(os.path.join(out, "transcripts.parquet"), rows, TRANSCRIPT_SCHEMA)
    _write(os.path.join(out, "warmup.parquet"), warm, TRANSCRIPT_SCHEMA)
    _write(os.path.join(out, "expected.parquet"), expected, EXPECTED_SCHEMA)
    with open(os.path.join(out, "pin.json"), "w") as f:
        json.dump({"rows": len(rows), "sha256": h.hexdigest()}, f)
    with open(marker, "w") as f:
        f.write(stamp)
    return out


def pool_pin(pool_dir: str) -> tuple[int, str]:
    with open(os.path.join(pool_dir, "pin.json")) as f:
        pin = json.load(f)
    return pin["rows"], pin["sha256"]


def sample_conversations(sizes: dict, seed: int, target: int) -> list:
    """The seed's conversations, in the order they are written: whole
    conversations in seeded order until their text bytes reach `target`."""
    order = sorted(sizes)
    random.Random(f"perfbench:{seed}").shuffle(order)
    chosen, total = [], 0
    for conv in order:
        if total >= target:
            break
        chosen.append(conv)
        total += sizes[conv]
    return chosen


def prepare(workload: str, seed: int) -> RunInput:
    """Check the pins, make sure the pool exists, and write this seed's
    input file. Nothing here is timed."""
    with open(PINS_PATH) as f:
        pins = json.load(f)
    _check_pin("canary", _digest(_pool_rows(CANARY_CONVS)), pins)
    pool_dir = ensure_pool()
    _check_pin("pool", pool_pin(pool_dir), pins)

    pool = pq.read_table(os.path.join(pool_dir, "transcripts.parquet"))
    conv = pool.column("conv_id").to_pylist()
    sizes: dict = {}
    for c, b in zip(conv, pc.binary_length(
            pool.column("text").cast(pa.binary())).to_pylist()):
        sizes[c] = sizes.get(c, 0) + b
    rank = {c: i for i, c in enumerate(
        sample_conversations(sizes, seed, SAMPLE_BYTES))}
    order = sorted((i for i, c in enumerate(conv) if c in rank),
                   key=lambda i: (rank[conv[i]], i))
    run_dir = os.path.join(CACHE, "input")
    path = os.path.join(run_dir, "transcripts.parquet")
    stamp_path = os.path.join(run_dir, "_SEED")
    stamp = json.dumps({"seed": seed, "pool": pool_pin(pool_dir),
                        "bytes": SAMPLE_BYTES, "row_group": ROW_GROUP})
    if not (os.path.exists(stamp_path) and open(stamp_path).read() == stamp):
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        pq.write_table(pool.take(pa.array(order, type=pa.int64())), path,
                       row_group_size=ROW_GROUP)
        with open(stamp_path, "w") as f:
            f.write(stamp)
    exp = pq.read_table(os.path.join(pool_dir, "expected.parquet")).to_pylist()
    expected = {(r["conv_id"], r["turn_idx"]): (r["text"], r["n_spans"],
                                                r["n_blocks"])
                for r in exp if r["conv_id"] in rank}
    return RunInput(workload, seed, path,
                    os.path.join(pool_dir, "warmup.parquet"), len(order),
                    expected)


def current_pins() -> dict:
    """Pins of the pool as the generator makes it now."""
    canary = _digest(_pool_rows(CANARY_CONVS))
    pool = pool_pin(ensure_pool())
    return {what: {"rows": rows, "sha256": sha}
            for what, (rows, sha) in (("canary", canary), ("pool", pool))}


if __name__ == "__main__":
    # Prints the pins of the current generator; pins.json is updated by
    # hand only when a generator change is meant to move the baseline.
    sys.path.insert(0, REPO)
    print(json.dumps(current_pins(), indent=2, sort_keys=True))
