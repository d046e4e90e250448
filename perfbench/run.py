"""Benchmark for scalding_spark: one workload per call, on local[nproc].

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 \
        --trace 0

Run from the root of a checkout. The run generates seeded inputs (cached
under ``.perfbench/`` per seed), sets a SparkSession up several times,
runs the workload once cold and then warm until ``--seconds`` have
passed, checks every op's output, and prints as its last stdout line one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). ``--workload all`` runs every workload in turn and
prints a table. See perfbench/README.md.
"""
from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
NEEDED = ["scalding_spark/__init__.py", "__spark_entry__.py",
          "py_reference.py", "scripts/gen_sf.py",
          "examples/wordcount_job.py"]
FACTOR = 10         # gen_sf expansion of the relational base tables
CORPUS_FACTOR = 2   # and of the 500-doc base corpus
SETUPS = 5          # session set-ups per run; setup_s is their median
MIN_ITERS = 2       # one cold + at least one warm iteration; traced runs
                    # take one more so warm iterations run with and
                    # without tracing
MAX_ITERS = 40
DRIVER_MEM = "2g"
E2E_UNITS = {"setup_s": "s", "cold_cpu_s": "s", "warm_cpu_s": "s"}


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_facts(spark) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    jvm = spark.sparkContext._jvm
    return {"nproc": os.cpu_count(), "ram_gb": round(mem_kb / 2**20, 1),
            "spark": spark.version,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version()}


def builder(cores: int, tmp: str):
    from pyspark.sql import SparkSession
    return (SparkSession.builder.master(f"local[{cores}]")
            .appName("perfbench")
            .config("spark.sql.shuffle.partitions", str(cores))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.driver.memory", DRIVER_MEM)
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.ui.retainedJobs", "100000")
            .config("spark.ui.retainedStages", "100000")
            .config("spark.sql.ui.retainedExecutions", "100000")
            .config("spark.local.dir", tmp)
            .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"))


def warmup(spark, inp: str) -> None:
    """The fixed warm-up action every set-up ends with."""
    from pyspark.sql import functions as F
    spark.range(1_000_000).selectExpr("id % 1000 AS k", "id") \
        .groupBy("k").agg(F.sum("id")).collect()
    spark.read.parquet(f"{inp}/lineitem.parquet").limit(1000) \
        .write.mode("overwrite").format("noop").save()


def calibrate(spark) -> float:
    """Fixed host-speed probe: a pure-Python loop plus an in-memory Spark
    aggregate. Diagnostic only."""
    from pyspark.sql import functions as F
    t0 = time.perf_counter()
    s = 0
    for i in range(1_000_000):
        s += i * i
    spark.range(2_000_000).selectExpr("id % 997 AS k", "id") \
        .groupBy("k").agg(F.sum("id")).collect()
    return time.perf_counter() - t0


def codegen_count(spark) -> int:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()


def cpu_seconds(jvm_pid: int) -> float:
    """CPU time used so far by this process, the Spark JVM and the JVM's
    Python workers. Unlike wall time it leaves out time the host's
    hypervisor stole from the guest's CPUs."""
    total = 0
    for pid in [os.getpid(), jvm_pid] + descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def jvm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def shutdown(spark, jvm_pid: int) -> None:
    """Stop the session, end the JVM and wait for it and its Python
    workers to exit."""
    from pyspark import SparkContext
    workers = descendants(jvm_pid)
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    for pid in [jvm_pid] + workers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            with open(f"/proc/{pid}/stat") as fh:
                if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                    break
            time.sleep(0.05)


def run(args) -> dict:
    from inputs import ensure
    from workloads import WORKLOADS

    wl_cls = WORKLOADS[args.workload]
    cores = os.cpu_count() or 1
    work = os.path.join(WORK, "run")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    inp = ensure(os.path.join(WORK, "inputs"), args.seed, FACTOR,
                 CORPUS_FACTOR)

    starts, warms = [], []
    spark = None
    for k in range(SETUPS):
        t0 = time.perf_counter()
        spark = builder(cores, tmp).getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        warmup(spark, inp)
        t2 = time.perf_counter()
        starts.append(t1 - t0)
        warms.append(t2 - t1)
        if k < SETUPS - 1:
            spark.stop()
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    facts = host_facts(spark)

    tracer = None
    if args.trace:
        from layers import Tracer
        tracer = Tracer(spark, f"{args.workload}-seed{args.seed}-"
                               f"{int(time.time())}")
        tracer.instrument()
    wl = wl_cls(spark, inp, work, args.seed, tracer)
    t0 = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t0
    setups = [a + b for a, b in zip(starts, warms)]
    setup_s = statistics.median(setups) + prepare_s

    ops = wl.ops()
    cal_before = calibrate(spark)
    cg0 = codegen_count(spark)
    gc0 = tracer.gc_seconds() if tracer else 0.0
    attempted = failed = 0
    done, times, cpus, traced_iters, plain_iters = [], [], [], [], []
    op_times: dict[str, list[float]] = {}
    codegen_cold = 0
    t_start = time.perf_counter()
    it = 0
    while True:
        traced = bool(tracer) and it % 2 == 0
        if tracer:
            tracer.iteration, tracer.active = it, traced
        ctx = (tracer.scope("iter", f"iter{it}") if tracer
               else contextlib.nullcontext())
        c0, t0 = cpu_seconds(jvm_pid), time.perf_counter()
        with ctx:
            for name, fn in ops:
                attempted += 1
                t_op = time.perf_counter()
                try:
                    fn(it)
                    done.append((name, it))
                    op_times.setdefault(name, []).append(
                        time.perf_counter() - t_op)
                except Exception as ex:
                    failed += 1
                    print(f"op {name} iteration {it} raised: "
                          f"{type(ex).__name__}: {str(ex)[:300]}",
                          file=sys.stderr)
        times.append(time.perf_counter() - t0)
        cpus.append(cpu_seconds(jvm_pid) - c0)
        if tracer:
            tracer.active = False
            if it:
                (traced_iters if traced else plain_iters).append(it)
        if it == 0:
            codegen_cold = codegen_count(spark) - cg0
        it += 1
        if it >= MAX_ITERS or (it >= MIN_ITERS + bool(tracer)
                               and time.perf_counter()
                               - t_start >= args.seconds):
            break
    cal_after = calibrate(spark)
    try:
        bad = wl.check(done)
    except Exception as ex:
        print(f"output check raised: {type(ex).__name__}: {ex}",
              file=sys.stderr)
        bad = list(done)
    for name, i in bad:
        print(f"op {name} iteration {i}: output failed its check",
              file=sys.stderr)
    failed += len(bad)

    cold_s, warm = times[0], times[1:]
    if tracer:
        layer = tracer.collect(traced_iters)
        layer["codegen.compiles"] = float(codegen_cold)
        layer["spark.gc_s"] = (tracer.gc_seconds() - gc0) / len(times)
        layer["session.start_s"] = statistics.median(starts)
        layer["session.warmup_s"] = statistics.median(warms)
        layer["session.jvm_launch_s"] = starts[0]
        layer["session.jvm_hwm_mb"] = jvm_hwm_mb(jvm_pid)
        layer["calibration.before_s"] = cal_before
        layer["calibration.after_s"] = cal_after
        layer["dedup.pairs.yield"] = wl.pair_yield()
        t_tr = statistics.median([times[i] for i in traced_iters])
        t_pl = statistics.median([times[i] for i in plain_iters])
        layer["trace.overhead_frac"] = t_tr / t_pl - 1
        tracer.export(os.path.join(
            WORK, f"trace-{args.workload}-seed{args.seed}.json"))
        from layers import metric_unit
        metrics = {k: {"value": v, "unit": metric_unit(k)}
                   for k, v in layer.items()}
    else:
        values = {"setup_s": setup_s, "cold_cpu_s": cpus[0],
                  "warm_cpu_s": statistics.median(cpus[1:])}
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in values.items()}
    peak_rss_mb = jvm_hwm_mb(jvm_pid)
    shutdown(spark, jvm_pid)
    summary = {
        "workload": args.workload, "seed": args.seed, "host": facts,
        "cold_s": cold_s, "warm_s": statistics.median(warm),
        "warm_samples": len(warm), "peak_rss_mb": peak_rss_mb,
        "prepare_s": prepare_s, "setups_s": setups, "iterations_s": times,
        "iterations_cpu_s": cpus,
        "op_warm_s": {k: statistics.median(v[1:] or v)
                      for k, v in op_times.items()},
        "calibration_s": [cal_before, cal_after],
        "ops_failed_frac": failed / attempted if attempted else 1.0}
    print(json.dumps(summary))
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def run_all(args) -> int:
    """Every workload in its own process, then one table."""
    from workloads import WORKLOADS
    rows = []
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", "0"]
        out = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
        lines = out.stdout.strip().splitlines()
        if out.returncode or len(lines) < 2:
            sys.stderr.write(out.stderr)
            return out.returncode or 1
        summary, result = json.loads(lines[-2]), json.loads(lines[-1])
        rows.append((name, summary, result))
    cols = [("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s"),
            ("cold_cpu_s", "s"), ("warm_cpu_s", "s"), ("peak_rss_mb", "MB"),
            ("ops_failed_frac", "ratio")]
    print(f"{'workload':<14}" + "".join(f"{f'{k} ({u})':>25}" for k, u in cols)
          + f"{'warm samples':>14}")
    for name, summary, result in rows:
        m = {k: v["value"] for k, v in result["metrics"].items()}
        m.update(summary)
        print(f"{name:<14}" + "".join(f"{m[k]:>25.3f}" for k, _ in cols)
              + f"{summary['warm_samples']:>14}")
    return 0


def main(argv=None) -> int:
    args = parse(sys.argv[1:] if argv is None else argv)
    missing = [p for p in NEEDED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a scalding_spark checkout, missing {missing}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    if args.workload == "all":
        return run_all(args)
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)} or all", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
