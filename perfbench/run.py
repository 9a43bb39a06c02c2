"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload project_query --seed 1 --seconds 40 --trace 0

Workloads (see perfbench/README.md): ``project_query`` and
``headline_mix``. Every run starts its own Spark driver JVM on
``local[4]``, generates its inputs from ``--seed`` under
``.perfbench/`` in the checkout, and deletes them when it ends. The last
line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with ``--trace 1``
the per-layer metrics of a traced run).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import signal
import subprocess
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
DRIVER_MEMORY = "2g"
#: input generations per run; set-up reports their median
GENERATIONS = 3


def _workloads():
    from perfbench.headline import HeadlineMix
    from perfbench.project import ProjectQuery

    return {w.name: w for w in (ProjectQuery, HeadlineMix)}


#: nominal seconds of one round; a run does seconds // round_s rounds
#: (at least one), so every run of a workload does the same work: at 40 s
#: one project_query round and two headline_mix passes (cold, then warm)
ROUND_S = {"project_query": 30.0, "headline_mix": 20.0}


def _start_spark(run_dir: str):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    # a fixed-size heap (-Xms = -Xmx) keeps the JVM's resident size from
    # following GC sizing decisions run to run
    args += ["--driver-java-options", f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp}",
             "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args)
    from dsgrid_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _peak_rss_mb() -> float:
    """Peak resident memory of this process plus the driver JVM."""
    from pyspark import SparkContext

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def _same_files(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    for n in names:
        with open(os.path.join(a, n), "rb") as fa, open(os.path.join(b, n), "rb") as fb:
            if fa.read() != fb.read():
                return False
    return True


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    t_setup = time.perf_counter()
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{workload}-{seed}-{os.getpid()}")
    os.makedirs(run_dir)
    spark = None
    try:
        spark = _start_spark(run_dir)
        session_s = time.perf_counter() - t_setup
        wl = _workloads()[workload](spark, seed)
        gen_s, dirs = [], []
        for k in range(GENERATIONS):
            dirs.append(os.path.join(run_dir, f"inputs-{k}"))
            os.makedirs(dirs[-1])
            t0 = time.perf_counter()
            wl.generate(dirs[-1])
            gen_s.append(time.perf_counter() - t0)
        deterministic = all(_same_files(dirs[0], d) for d in dirs[1:])
        t0 = time.perf_counter()
        work_dir = os.path.join(run_dir, "work")
        os.makedirs(work_dir)
        wl.prepare(dirs[0], work_dir)
        prepare_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(gen_s) + prepare_s
        print(f"setup: session {session_s:.3f} s, input generation "
              f"{' '.join(f'{g:.3f}' for g in gen_s)} s, prepare {prepare_s:.3f} s")

        from perfbench import runner as rn
        from perfbench.tracing import Tracer, fetch_jobs

        tracer = Tracer() if trace else None
        runner = rn.Runner(tracer)
        if tracer is not None:
            tracer.install()
        try:
            for r in range(max(1, int(seconds // ROUND_S[workload]))):
                runner.round = r
                wl.round(runner)
        finally:
            if tracer is not None:
                tracer.uninstall()
        ops = runner.ops
        metrics = rn.end_to_end(ops, setup_s, _peak_rss_mb())
        layer = rn.op_metrics(ops)
        if tracer is not None:
            jobs = fetch_jobs(spark, ops[0].start, ops[-1].end)
            layer.update(rn.layer_metrics(ops, tracer, jobs,
                                          tracer.calls * tracer.per_call_cost()))
        failed = sum(op.error is not None for op in ops)
        for op in ops:
            print(f"op {op.name} round {op.round} {op.latency:.3f} s "
                  f"(construct {op.construct_s:.3f} plan {op.plan_s:.3f} "
                  f"execute {op.execute_s:.3f})"
                  + (f" FAILED: {op.error}" if op.error else ""))
        if not deterministic:
            print(f"FAILED {workload}: regenerated inputs differ for seed {seed}")
        for name, (value, unit) in {**metrics, **layer}.items():
            print(f"{workload} {name} {value:.6g} {unit}")
        return {
            "correct": failed == 0 and deterministic,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in (layer if trace else metrics).items()},
        }
    finally:
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(ROUND_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and deletes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for need in ("dsgrid_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
