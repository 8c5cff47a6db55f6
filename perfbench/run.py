#!/usr/bin/env python3
"""Benchmark of record: one workload per process, one client in a closed
loop on ``local[<cpus>]``.

    python3 perfbench/run.py --workload hourly_cycle --seed 1 --seconds 20 --trace 0

Run from the repository root. The inputs are generated from ``--seed``
under ``.perfbench_work/`` (deleted at exit). The last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics from a traced run with ``--trace 1``. The full result, the
environment and (traced runs) every span are written to
``.perfbench_out/``. The exit code is 0 only when every op and every
correctness check passed. See perfbench/README.md for the workloads and
the layer -> metric map.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import fcntl  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("hourly_cycle", "backfill", "corpus_mix")
# "full" is the benchmark of record; "tiny" is the smoke-test size
SIZES = {
    "hourly_cycle": {"full": {"n_assets": 500, "history": 48}, "tiny": {"n_assets": 30, "history": 3}},
    "backfill": {"full": {"n_assets": 500, "history": 168}, "tiny": {"n_assets": 30, "history": 3}},
    "corpus_mix": {"full": {"sf": 0.01}, "tiny": {"sf": 0.001}},
}
DRIVER_MEM_MB = 3072

END_TO_END_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "rows_per_s": "1/s",
    "ops_per_min": "1/min",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def _meminfo_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def pin_environment(work: str) -> dict:
    """Pin the session's cores, memory and scratch dirs before pyspark is
    imported; returns the environment disclosed with the metrics."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = _meminfo_mb()
    driver_mb = min(DRIVER_MEM_MB, mem_mb // 4) if mem_mb else DRIVER_MEM_MB
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")  # program temp files
    return {
        "cpus": cpus,
        "mem_total_mb": mem_mb,
        "driver_mem_mb": driver_mb,
        "loadavg": list(os.getloadavg()),
        "python": platform.python_version(),
    }


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tail_latency(latencies: list[float]) -> tuple[float, float]:
    """Latency at the highest percentile with at least ten samples beyond
    it, and that percentile. Below 40 samples that percentile would sit
    under p75, so the tail is then the maximum (p100)."""
    s = sorted(latencies)
    n = len(s)
    if n >= 40:
        return s[n - 11], (n - 10) / n
    return s[-1], 1.0


def _steal_s() -> float:
    """CPU time stolen from this VM by its host so far (all CPUs)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def make_workload(name: str, spark, tracer, work: str, seed: int, size: dict):
    from workloads import Backfill, CorpusMix, HourlyCycle

    cls = {"hourly_cycle": HourlyCycle, "backfill": Backfill, "corpus_mix": CorpusMix}[name]
    return cls(spark, tracer, work, seed, **size)


def run(args: argparse.Namespace, work: str, env: dict) -> dict:
    sys.path[:0] = [ROOT, HERE]
    from layers import layer_metrics
    from project_crypto_data_engineering_gcp_spark.session import get_spark
    from spans import Tracer

    import pyspark

    tmp = os.path.join(work, "tmp")
    steal0 = _steal_s()
    t = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    gateway = spark.sparkContext._gateway
    jvm_proc = gateway.proc
    try:
        get_spark_s = time.perf_counter() - t
        env.update(
            pyspark=pyspark.__version__,
            java=spark._jvm.System.getProperty("java.version"),
            master=spark.sparkContext.master,
        )
        tracer = Tracer(spark, bool(args.trace))
        workload = make_workload(
            args.workload, spark, tracer, work, args.seed, SIZES[args.workload][args.size]
        )
        t = time.perf_counter()
        workload.generate_backlog()
        gen_s = time.perf_counter() - t
        workload.install_tracing()
        setup = workload.setup()
        tracer.collect()
        setup_s = time.perf_counter() - _T0 - gen_s - workload.check_s

        latencies, rows, failed, errors = [], 0, 0, []
        t_start = time.perf_counter()
        i = 0
        while True:
            arg = workload.prepare()  # untimed: generator work, cleanup
            tracer.op = i
            with tracer.span("op"):
                a = time.perf_counter()
                try:
                    res = workload.op(arg)
                except Exception as e:  # a raising op is a failed op
                    traceback.print_exc()
                    res_rows, res_err = 0, repr(e)
                else:
                    res_rows, res_err = res.rows, res.error
                latencies.append(time.perf_counter() - a)
            rows += res_rows
            if res_err:
                failed += 1
                errors.append(f"op {i}: {res_err}")
            tracer.collect()
            i += 1
            if time.perf_counter() - t_start >= args.seconds and workload.pass_complete():
                break
        measured_s = time.perf_counter() - t_start

        peak_rss_mb = _vm_hwm_mb(jvm_proc.pid) + _vm_hwm_mb("self")
        tracer.op = -2  # end-of-run checks
        check_errors = workload.final_check()
        errors += check_errors
        op_time = sum(latencies)
        tail, tail_pct = tail_latency(latencies)
        e2e = {
            "setup_s": setup_s,
            "latency_p50_s": _median(latencies),
            "latency_tail_s": tail,
            "rows_per_s": rows / op_time,
            "ops_per_min": len(latencies) / op_time * 60.0,
        }
        layers = {}
        if args.trace:
            layers = layer_metrics(workload, tracer, get_spark_s=get_spark_s, setup=setup)
        return {
            "correct": not errors,
            "attempted": len(latencies),
            "failed": failed,
            "end_to_end": e2e,
            "per_layer": layers,
            "detail": {
                "workload": args.workload,
                "seed": args.seed,
                "size": SIZES[args.workload][args.size],
                "samples": len(latencies),
                "tail_percentile": tail_pct,
                "measured_s": measured_s,
                "generate_s": gen_s,
                "check_s": workload.check_s,
                "peak_rss_mb": peak_rss_mb,
                "steal_s": _steal_s() - steal0,
                "get_spark_s": get_spark_s,
                **setup,
                "latencies_s": latencies,
                "op_labels": getattr(workload, "op_labels", None),
                "errors": errors,
                "env": env,
            },
            "spans": [s.as_dict() for s in tracer.spans],
        }
    finally:
        spark.stop()
        gateway.shutdown()
        jvm_proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            jvm_proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm_proc.kill()
            jvm_proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    work_root = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work_root, exist_ok=True)
    # one Spark session at a time per checkout: a second benchmark waits
    lock = open(os.path.join(work_root, ".lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        env = pin_environment(work)
        result = run(args, work, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        lock.close()

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(result, fh, indent=1)
    d = result["detail"]
    print(
        f"{args.workload}: {d['samples']} ops, tail = p{100 * d['tail_percentile']:.1f}, "
        f"env {json.dumps(d['env'])}; errors: {d['errors'][:5]}",
        file=sys.stderr,
    )
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in result["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in result["end_to_end"].items()}
    line = {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }
    print(json.dumps(line), flush=True)
    return 0 if result["correct"] and result["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
