"""Seeded benchmark of the engine: three workloads, end-to-end metrics
untraced, per-layer metrics from a traced run.

    python3 perfbench/run.py --workload colloc_large --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. One driver process, one client thread,
a closed loop on ``local[<cpus available>]``. The last line of stdout
is the JSON result; a record of the run (percentile used for the tail,
CPU steal, per-layer self times) is printed on the lines before it.
All state lives under ``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

# the engine package and this benchmark both live at the repository root
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ngrams_collocations_hadoop_spark.session import get_spark  # noqa: E402
from pyspark import SparkContext  # noqa: E402

from perfbench import gen, layers, workloads  # noqa: E402
from perfbench.check import References  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

WORKLOADS = ("colloc_large", "query_mix", "dedup_ingest")
SETUPS = 5             # session set-ups per run; setup_s is their median
DRIVER_MEM = "2g"
JIT_THREADS = 8


def cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies from /proc/stat, as bench.py reads them."""
    with open("/proc/stat") as f:
        p = f.readline().split()
    return sum(int(p[i]) for i in (1, 2, 3, 6, 7)), int(p[8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    busy, steal = after[0] - before[0], after[1] - before[1]
    return 100.0 * steal / max(1, busy + steal)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def reset_hwm(pid: int | str) -> None:
    """Restart the peak-RSS counter, so the peak covers the loop only
    (the output check's DuckDB oracle runs in this process)."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass          # the lifetime peak is reported instead


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least 10 samples beyond it, and
    its label. Below 100 samples that percentile is under p90, no tail,
    so the maximum is reported instead."""
    v, n = sorted(values), len(values)
    if n < 100:
        return v[-1], f"p100 of {n}"
    return v[n - 11], f"p{100.0 * (n - 10) / n:.1f} of {n}"


def env_for(work: str) -> None:
    """Private warehouse, Spark local dirs and temp dirs under ``work``."""
    for sub in ("warehouse", "local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no hsperfdata files in /tmp, from the launcher JVM or the driver
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"


def start_session(cpus: int, t0: float):
    """A ready, warmed session: built, and one shuffle job run."""
    t = time.time()
    spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        # more JIT compiler threads than the default 3 of a 4-core
        # machine: the compile queue drains within the warm-up instead
        # of the timed loop (same compilers, same thresholds)
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Xms{DRIVER_MEM} "
            f"-XX:CICompilerCount={JIT_THREADS}"})
    t_session = time.time() - t
    (spark.range(0, 200_000, numPartitions=cpus)
     .selectExpr("id % 97 AS k").groupBy("k").count().collect())
    return spark, time.time() - t0, t_session


def stop_jvm(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


class Result:
    """Op counts and op wall times of one run."""

    def __init__(self) -> None:
        self.attempted = self.failed = 0
        self.ops: list[float] = []             # untraced op walls
        self.traced: list[float] = []          # traced op walls
        self.loop_s = 0.0                      # untraced rounds' wall
        self.steal: list[float] = []           # per op, %


def run_op(wl, spark, data_dir: str, name: str, tracer: Tracer,
           res: Result) -> float | None:
    """One op, counted as attempted; its wall, or None if it raised.
    The wall is taken inside the tracer's op span, so the status-store
    reads after a traced op are not part of it."""
    wl.before_op(spark)
    res.attempted += 1
    try:
        with tracer.op(name):
            t = time.perf_counter()
            wl.op(spark, data_dir, name, tracer)
            return time.perf_counter() - t
    except Exception:
        traceback.print_exc()
        res.failed += 1
        return None


def warm_up(wl, spark, data_dir: str, rounds: int, res: Result) -> float:
    """``rounds`` untimed rounds from the cold JVM; returns their
    wall."""
    off = Tracer(spark, False)
    t = time.time()
    wl.prepare(spark, data_dir, off)
    for _ in range(rounds):
        for name in wl.round():
            run_op(wl, spark, data_dir, name, off, res)
    return time.time() - t


def check(wl, spark, data_dir: str, refs_path: str, res: Result,
          record: dict) -> None:
    """The check pass: every op of a round once, with its outputs
    collected and compared with the reference (outside the timed
    region). Counted as one attempted op."""
    t = time.time()
    res.attempted += 1
    try:
        outputs = wl.check_pass(spark, data_dir, Tracer(spark, False))
        record["check_pass_s"] = time.time() - t
        bad = References(refs_path).mismatches(
            outputs, lambda: wl.oracle(data_dir))
    except Exception:
        traceback.print_exc()
        bad, outputs = ["check pass raised"], {}
    if bad:
        print(f"# output check FAILED: {bad}", flush=True)
        res.failed += 1
    record["check_s"] = time.time() - t
    record["outputs"] = {k: len(v) for k, v in outputs.items()}


def loop(wl, spark, data_dir: str, seconds: float, trace: bool,
         on: Tracer, res: Result) -> None:
    """Whole rounds until ``seconds`` have passed. A traced run
    alternates untraced and traced rounds, at least one of each."""
    off = Tracer(spark, False)
    t_loop, rounds = time.time(), 0
    while rounds < (2 if trace else 1) or time.time() - t_loop < seconds:
        traced = trace and rounds % 2 == 1
        t_round = time.time()
        for name in wl.round():
            j0 = cpu_jiffies()
            dt = run_op(wl, spark, data_dir, name,
                        on if traced else off, res)
            if dt is None:
                continue
            res.steal.append(steal_pct(j0, cpu_jiffies()))
            (res.traced if traced else res.ops).append(dt)
        if not traced:
            res.loop_s += time.time() - t_round
        rounds += 1


def run(workload: str, seed: int, seconds: float, trace: bool,
        spec: gen.Spec | None = None, work_root: str | None = None,
        warmup_rounds: int | None = None) -> dict:
    """One benchmark run; returns the result object printed as JSON.
    ``spec`` and ``warmup_rounds`` override the workload's input sizes
    and warm-up (self-tests)."""
    work_root = work_root or os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(work_root, "run")
    shutil.rmtree(work, ignore_errors=True)
    env_for(work)
    spec = spec or workloads.SPECS[workload]
    wl = workloads.make(workload, spec, work)
    t = time.time()
    data_dir = os.path.join(work, "data")
    gen.generate(spec, seed, data_dir)
    gen_s = time.time() - t
    cpus = len(os.sched_getaffinity(0))

    setups, sessions = [], []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        spark, s, t_session = start_session(
            # the first from process start, less the data generation
            cpus, T_PROCESS + gen_s if i == 0 else time.time())
        setups.append(s)
        sessions.append(t_session)
    res = Result()
    on = Tracer(spark, True)
    record: dict = {"workload": workload, "seed": seed, "cpus": cpus,
                    "gen_s": gen_s, "setup_runs_s": setups}
    try:
        rounds = max(1, wl.warmup_rounds if warmup_rounds is None
                     else warmup_rounds)
        record["warmup_s"] = build_s = warm_up(
            wl, spark, data_dir, rounds, res)
        record["warmup_rounds"] = rounds
        if wl.builds:
            t = time.time()
            wl.build(spark, data_dir, on if trace else Tracer(spark, False))
            build_s = time.time() - t
        check(wl, spark, data_dir, os.path.join(
            work_root, "refs", f"{workload}-{seed}.json"), res, record)

        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        for pid in (jvm_pid, "self"):
            reset_hwm(pid)
        j0 = cpu_jiffies()
        loop(wl, spark, data_dir, seconds, trace, on, res)
        peak_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        record["steal_pct"] = steal_pct(j0, cpu_jiffies())
        record["steal_pct_max_op"] = max(res.steal, default=0.0)
        if not res.ops:
            raise RuntimeError("no op completed")
        p50 = statistics.median(res.ops)
        tail_s, record["op_tail"] = tail(res.ops)
        record["ops"] = len(res.ops)
        record["op_walls_s"] = [round(x, 4) for x in res.ops]
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "op_p50_s": (p50, "s"),
            "op_tail_s": (tail_s, "s"),
            "ops_per_s": (len(res.ops) / res.loop_s, "1/s"),
            "docs_per_s": (spec.docs * len(res.ops) / sum(res.ops), "1/s"),
            "build_s": (build_s, "s"),
            "peak_rss_mb": (peak_mb, "MB"),
        }
        if trace:
            metrics = layers.metrics(
                wl, spark, data_dir, on, cpus, sessions,
                overhead=statistics.median(res.traced) - p50,
                match_pairs=record["outputs"].get(
                    workloads.DedupIngest.MATCH, 0))
            record["self_time_s"] = on.self_times()
            record["tracing_overhead_s"] = metrics["trace.overhead_s"][0]
            os.makedirs(os.path.join(work_root, "trace"), exist_ok=True)
            on.dump(os.path.join(work_root, "trace",
                                 f"{workload}-{seed}.json"), record)
    finally:
        stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("# " + json.dumps(record, sort_keys=True), flush=True)
    return {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    out = run(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
