"""End-to-end measurement: Spark pipelines at local[2], one job at a time.

A run sets up the session and a cold pass over a fixed warm-up slice
`SETUPS` times, checks every output row of one untimed full pass, then
times steady passes until the requested seconds are measured. Sinks are
`write.format("noop")`, so Catalyst cannot prune the output projection.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import time

import corpus

MASTER = "local[2]"
SETUPS = 3        # setup_s is the median of this many session set-ups
MIN_PASSES = 3
MAX_PASSES = 60


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def confine_temp_files() -> None:
    """Keep Spark's, the JVM's and Python's temporary files inside the
    checkout."""
    tmp = os.path.join(corpus.CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


def is_struct(workload: str) -> bool:
    return workload == "struct_links"


def operator(workload: str):
    """The workload's pipeline: transcripts DataFrame -> output DataFrame."""
    from pdftext_spark.config import ExtractConfig
    from pdftext_spark.operators.extract import extract, plain_text
    if is_struct(workload):
        return lambda df: extract(df, ExtractConfig())
    return plain_text


def run_op(spark, workload: str, path: str):
    from pdftext_spark.sources.session import load_transcripts
    if is_struct(workload):
        # the persisted kernel cache would make a repeat pass time nothing
        spark.catalog.clearCache()
    return operator(workload)(load_transcripts(spark, path))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed_pass(spark, workload: str, path: str) -> float:
    t0 = time.perf_counter()
    noop(run_op(spark, workload, path))
    return time.perf_counter() - t0


def set_up(workload: str, warmup_path: str):
    """build_session plus a cold pass over the fixed warm-up slice."""
    from pdftext_spark.sources.session import build_session
    t0 = time.perf_counter()
    spark = build_session("perfbench", master=MASTER)
    noop(run_op(spark, workload, warmup_path))
    return spark, time.perf_counter() - t0


def count_failures(out, inp: corpus.RunInput, struct: bool) -> int:
    """Input turns whose output row is missing or differs from the
    expected row, plus output rows no input turn explains."""
    cols = ["conv_id", "turn_idx", "text"]
    if struct:
        cols += ["n_spans", "n_blocks"]
    got: dict = {}
    extra = 0
    for r in out.select(*cols).toArrow().to_pylist():
        key = (r["conv_id"], r["turn_idx"])
        if key in got or key not in inp.expected:
            extra += 1
        got[key] = r
    failed = 0
    for key, (text, n_spans, n_blocks) in inp.expected.items():
        r = got.get(key)
        if (r is None or r["text"] != text
                or (struct and (r["n_spans"], r["n_blocks"])
                    != (n_spans, n_blocks))):
            failed += 1
    return failed + extra


# ---- peak RSS from /proc (psutil is not installed) ----

def _children() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants(pid: int) -> list:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _read(path: str) -> str:
    try:
        with open(path, "rb") as f:
            return f.read().decode("utf-8", "replace")
    except OSError:
        return ""


def _hwm_mb(pid: int) -> float:
    for line in _read(f"/proc/{pid}/status").splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb() -> tuple[float, float]:
    """(largest Python worker, JVM) peak RSS among this process's
    descendants, in MB."""
    worker = jvm = 0.0
    for pid in _descendants(os.getpid()):
        if _read(f"/proc/{pid}/comm").strip() == "java":
            jvm = max(jvm, _hwm_mb(pid))
        elif "pyspark.daemon" in _read(f"/proc/{pid}/cmdline"):
            worker = max(worker, _hwm_mb(pid))
    return worker, jvm


def jvm_live_heap_mb() -> float:
    """JVM heap still in use after full garbage collections, in MB: the
    memory the program holds. The JVM's RSS instead follows G1's heap
    sizing and the off-heap buffers and arenas of its threads, which
    varied 20-40% between identical runs on a shared 4-vCPU host."""
    from pyspark import SparkContext
    jvm = SparkContext._jvm
    for _ in range(2):
        jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return heap.getHeapMemoryUsage().getUsed() / 2 ** 20


def stop_jvm(timeout: float = 60.0) -> None:
    """Stop the Spark JVM this process launched, then wait until it and
    every Python worker it started have exited (killing stragglers)."""
    import signal

    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    pids = _descendants(os.getpid())
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits on EOF
    gateway.proc.wait(timeout)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")
                and _read(f"/proc/{p}/stat").split(") ")[-1][:1] != "Z"]
        time.sleep(0.1)
    for pid in pids:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)


def measure(inp: corpus.RunInput, seconds: float) -> tuple[int, dict]:
    """End-to-end run; returns (failed turns, metrics)."""
    workload = inp.workload
    setups = []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        spark, s = set_up(workload, inp.warmup_path)
        setups.append(s)
    log(f"setup_s samples: {[round(s, 3) for s in setups]}")

    # the untimed warm-up pass is the one whose every row is checked
    failed = count_failures(run_op(spark, workload, inp.path), inp,
                            is_struct(workload))
    passes: list = []
    while len(passes) < MAX_PASSES and (len(passes) < MIN_PASSES
                                        or sum(passes) < seconds):
        passes.append(timed_pass(spark, workload, inp.path))
    log(f"pass_s samples: {[round(p, 3) for p in passes]}")
    worker_mb, _ = peak_rss_mb()
    return failed, {
        "turns_per_s": (inp.n_turns / statistics.median(passes), "1/s"),
        "setup_s": (statistics.median(setups), "s"),
        "worker_rss_mb": (worker_mb, "MB"),
        "jvm_live_heap_mb": (jvm_live_heap_mb(), "MB"),
    }
