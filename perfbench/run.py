"""Benchmark of the ClearCare Spark engine: one command, seeded inputs,
checked outputs.

    python3 perfbench/run.py --workload etl_mrf --seed 1 --seconds 10 --trace 0

One run prepares the workload's inputs from ``--seed`` (untimed), starts
Spark (``setup_s``), runs one cold pass, then runs warm passes (a fixed
number, and more until ``--seconds`` have gone by), checks every output
against its oracle outside the timed region, and prints the run record
followed by a last line of JSON with the metrics. ``--trace 1``
interleaves untraced and traced warm passes and reports the per-layer
table instead of the end-to-end metrics. See README.md for the
workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# Workload -> fewest untraced warm passes a run makes, whatever
# --seconds says: enough that the reported medians do not rest on a
# single pass, few enough that all runs of a comparison fit its time
# limit (see README.md, Steadiness).
WORKLOADS = {"etl_mrf": 3, "query_mix": 3}
# Every end-to-end metric of the run record, with its unit.
UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "rows_per_s": "1/s",
    "fail_ratio": "ratio",
    "jvm_peak_rss_mib": "MiB",
}
# The ones BENCHMARK.json gates; README.md says why the others are not.
END_TO_END = ["setup_s", "pass_s", "op_p50_s", "rows_per_s"]

Pass = list[tuple[str, float]]  # (op name, seconds) per op


# --- run hygiene -----------------------------------------------------------


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return 100.0 * delta[7] / sum(delta) if sum(delta) else 0.0


def spark_jvms() -> list[int]:
    """Pids of every Spark JVM on the host."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark" in cmd:
            pids.append(int(pid))
    return pids


def peak_rss_mib(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def isolate(work: str) -> None:
    """Point every temporary and cache path of this run at fresh
    directories under ``work`` and pin the core count."""
    dirs = {d: os.path.join(work, d) for d in ("tmp", "spark-local", "cache", "warehouse", "out")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["SPARK_GRAFT_CACHE_DIR"] = dirs["cache"]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # -XX:-UsePerfData: each JVM (the launcher's too) would otherwise
    # write /tmp/hsperfdata_*.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={dirs["tmp"]} -XX:-UsePerfData" '
        f"--conf spark.sql.warehouse.dir={dirs['warehouse']} pyspark-shell"
    )


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM, and with it the JVM's Python
    workers, to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


# --- measuring -------------------------------------------------------------


def run_pass(ops, failures: dict[str, int], check, tracer=None) -> Pass:
    """Run each op once, then ``check(op name, op result)`` (returning
    problems) outside the timed region. An op that raises or whose
    check finds a problem counts as failed; its time still counts."""
    times = []
    for op in ops:
        t0 = time.perf_counter()
        try:
            if tracer is not None:
                with tracer.op(op.name, {"input_bytes": op.input_bytes}):
                    result = op.run()
            else:
                result = op.run()
            elapsed = time.perf_counter() - t0
            problems = check(op.name, result)
        except Exception as e:  # one failed op must not end the run
            elapsed = time.perf_counter() - t0
            traceback.print_exc()
            problems = [f"{type(e).__name__}: {e}"]
        times.append((op.name, elapsed))
        if problems:
            print(f"op failed: {op.name}: {problems}", file=sys.stderr)
            failures[op.name] = failures.get(op.name, 0) + 1
    return times


def measure(
    ops, seconds: int, min_passes: int, failures: dict[str, int], check, tracer
) -> tuple[Pass, list[Pass], list[Pass]]:
    """One cold pass, then warm passes until ``seconds`` have gone by
    and at least ``min_passes`` have run. With a tracer, each untraced
    warm pass is followed by a traced one and an untraced pass closes
    the run, so the untraced passes bracket the traced ones while the
    JVM is still warming up; one such round is enough there."""
    cold = run_pass(ops, failures, check)
    warm: list[Pass] = []
    traced: list[Pass] = []
    rounds = 1 if tracer is not None else min_passes
    t0 = time.perf_counter()
    while len(warm) < rounds or time.perf_counter() - t0 < seconds:
        warm.append(run_pass(ops, failures, check))
        if tracer is not None:
            with tracer.installed():
                traced.append(run_pass(ops, failures, check, tracer))
    if tracer is not None:
        warm.append(run_pass(ops, failures, check))
    return cold, warm, traced


def pass_time(p: Pass) -> float:
    return sum(t for _, t in p)


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples) of the highest percentile with at
    least 10 samples beyond it. With 10 samples or fewer no such
    percentile exists; the maximum is given as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    k = n - 11 if n > 10 else n - 1
    return xs[k], 100.0 * (k + 1) / n, n


# --- one run ---------------------------------------------------------------


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    """One run in fresh directories, removed again at the end."""
    work = os.path.join(WORK_ROOT, f"{workload}-seed{seed}-trace{int(trace)}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    try:
        return run_in(work, workload, seed, seconds, trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_in(work: str, workload: str, seed: int, seconds: int, trace: bool) -> dict:
    import inputs as inputs_mod
    import workloads as wl

    cpu0 = cpu_times()
    foreign = spark_jvms()
    if foreign:
        print(f"perfbench: foreign Spark JVMs running ({foreign}); this run's timings are suspect", file=sys.stderr)
    inputs = inputs_mod.prepare(workload, seed, work)
    tmp, out_dir = os.path.join(work, "tmp"), os.path.join(work, "out")

    from pyspark import SparkContext

    from clearcare_data_pipeline_spark.session import get_spark

    spark = get_spark("perfbench")
    setup_s = time.perf_counter() - T_START - inputs["prep_s"]
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = SparkContext._gateway.proc.pid
    failures: dict[str, int] = {}
    tracer = None
    checker = None
    try:
        if trace:
            import layers

            tracer = layers.Tracer(spark)
        if workload == "etl_mrf":
            ops = wl.etl_ops(spark, inputs, out_dir)
            checker = wl.EtlChecker(inputs, out_dir, tmp)
            check = checker.check
        else:
            ops = wl.query_ops(spark, inputs, tracer)
            check = wl.query_check(inputs, tmp)
        cold, warm, traced = measure(ops, seconds, WORKLOADS[workload], failures, check, tracer)
        rss = peak_rss_mib(jvm_pid)
    finally:
        if checker is not None:
            checker.close()
        stop_spark(spark)

    attempted = sum(len(p) for p in [cold, *warm, *traced])
    failed = sum(failures.values())
    warm_ops = [t for p in warm for _, t in p]
    tail_s, tail_pct, tail_n = tail(warm_ops)
    # Each op's median over the warm passes, so that a burst of host
    # load during one op moves no reported figure.
    op_medians = [statistics.median(p[i][1] for p in warm) for i in range(len(ops))]
    pass_s = sum(op_medians)
    values = {
        "setup_s": setup_s,
        "cold_pass_s": pass_time(cold),
        "pass_s": pass_s,
        "op_p50_s": statistics.median(op_medians),
        "op_tail_s": tail_s,
        "rows_per_s": sum(op.rows_in for op in ops) / pass_s,
        "fail_ratio": failed / attempted,
        "jvm_peak_rss_mib": rss,
    }
    metrics = {name: {"value": v, "unit": UNITS[name]} for name, v in values.items()}
    metrics["op_tail_s"].update(percentile=tail_pct, samples=tail_n)
    record = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "inputs": inputs_mod.describe(inputs),
        "metrics": metrics,
        "failures": failures,
        "passes": {"cold": cold, "warm": warm, "traced": traced},
        "hygiene": {
            "steal_pct": steal_pct(cpu0, cpu_times()),
            "foreign_spark_jvms_at_start": foreign,
        },
        "attempted": attempted,
        "failed": failed,
        "run_s": time.perf_counter() - T_START,
    }
    if tracer is not None:
        table = layers.summarize(tracer.ops, len(traced), tracer.cores)
        table["session.start_s"] = setup_s
        table["trace.overhead_s"] = statistics.median(pass_time(p) for p in traced) - values["pass_s"]
        record["layers"] = table
        record["layer_ops"] = tracer.ops
    return record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("clearcare_data_pipeline_spark/session.py", "tools/make_testdata.py", "tools/verify_local.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full checkout", file=sys.stderr)
            return 2
    os.chdir(ROOT)
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

    record = run(args.workload, args.seed, args.seconds, bool(args.trace))
    records = os.path.join(WORK_ROOT, "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({k: v for k, v in record.items() if k not in ("layer_ops", "passes")}))
    if args.trace:
        from layers import LAYER_METRICS

        metrics = {k: {"value": record["layers"][k], "unit": u} for k, u in LAYER_METRICS.items()}
    else:
        metrics = {k: record["metrics"][k] for k in END_TO_END}
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
