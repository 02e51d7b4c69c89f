#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {cdc_ingest,curation} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. It generates its inputs from ``--seed``
under ``perfbench/work/``, pins the Spark environment, runs the
workload, checks the outputs, and prints one JSON object as the last
line of stdout: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics untraced, the per-layer metrics traced). The
line before it is a JSON ``detail`` record (host probe, per-pass times,
pinned environment). A traced run also writes its spans and self-time
table to ``perfbench/out/``. See ``perfbench/README.md`` for what each
metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc_ingest", "curation")
SF = 0.001  # 1500 orders, 6000 lines; documents and embeddings are 500 each
DRIVER_MEMORY = "3g"


class Context:
    def __init__(self, args, spark, sf_dir: str, rows: dict[str, int], work: str, tracer, units):
        self.spark = spark
        self.sf_dir = sf_dir
        self.rows = rows
        self.work = work
        self.seconds = args.seconds
        self.tracer = tracer
        self.units = units
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def n_units(self, unit_s: float, minimum: int) -> int:
        """How many units to measure: as many as take ``--seconds`` at
        ``unit_s`` each (one unit's untraced wall time on a quiet
        4-vCPU host), at least ``minimum``. A fixed count, not a time
        box, so a slow host gives a longer run, not fewer samples."""
        return max(minimum, round(self.seconds / unit_s))

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.failures.append(msg)
        print(f"# FAILED {msg}", file=sys.stderr)


def _pin_environment(work: str) -> dict[str, str]:
    """Everything the Spark session and its Python workers read from the
    environment, set from here so a run never depends on the caller's
    shell. Python workers import ``gmall_spark`` through PYTHONPATH;
    scratch files stay inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_DRIVER_JAVA_OPTS": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads"  # see cpu.jit_cpu_s
            f" -Xms{DRIVER_MEMORY} -XX:+UseParallelGC"
        ),
        "PYTHONPATH": os.pathsep.join(
            [ROOT, os.path.join(ROOT, "tests")]
            + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
        ),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(env)
    return env


def _host_probe(spark) -> dict[str, float]:
    """Fixed pure-Python loop plus a fixed ``spark.range`` job: a
    diagnostic of host speed, recorded with every run and gated by
    nothing."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i & 7
    t1 = time.perf_counter()
    spark.range(20_000_000).select(F.sum(F.col("id") % 7)).collect()
    t2 = time.perf_counter()
    return {"host.python_loop_s": t1 - t0, "host.spark_range_s": t2 - t1,
            "host.calib_s": t2 - t0}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("gmall_spark/__init__.py", "tests/oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2

    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = _pin_environment(work)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    try:
        return _run(args, work, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, env: dict[str, str]) -> int:
    import cpu
    import inputs
    from spans import Tracer, median

    from gmall_spark.session import get_session

    mod = __import__(args.workload)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    t_setup = time.perf_counter()
    spark = get_session(
        app_name=f"perfbench_{args.workload}",
        master=f"local[{env['SPARK_GRAFT_CPUS']}]",
        shuffle_partitions=int(env["SPARK_GRAFT_CPUS"]),
        extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
    )
    session_s = time.perf_counter() - t_setup
    gateway = spark.sparkContext._gateway
    try:
        t0 = time.perf_counter()
        sf_dir = os.path.join(work, "data")
        rows = inputs.generate(sf_dir, args.seed, SF)
        inputs_s = time.perf_counter() - t0
        units = cpu.Units(gateway.proc.pid)
        ctx = Context(args, spark, sf_dir, rows, work, Tracer(spark, bool(args.trace)), units)
        layers = mod.setup(ctx)
        setup_s = time.perf_counter() - t_setup

        t0, steal0 = time.perf_counter(), cpu.steal_s()
        out = mod.measure(ctx)
        t1, steal1 = time.perf_counter(), cpu.steal_s()
        mod.check(ctx)
        phases = {"measure_s": t1 - t0, "measure_steal_s": steal1 - steal0,
                  "check_s": time.perf_counter() - t1}
        host = _host_probe(spark)
        if args.trace:
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            ctx.tracer.write(
                os.path.join(HERE, "out", f"trace-{args.workload}-{args.seed}.json"),
                {"end_to_end": {"setup_s": setup_s, "run_wall_s": median(units.wall_s)}},
            )
            _print_self_times(ctx.tracer)
    finally:
        spark.stop()
        _stop_gateway(gateway)

    layers |= out["layers"] | ctx.tracer.catalyst_metrics() | host
    layers |= {"session.start_s": session_s, "bench.inputs_s": inputs_s,
               "bench.run_wall_s": median(units.wall_s), "exec.jit_cpu_s": median(units.jit_s),
               "host.steal_s": phases["measure_steal_s"]}
    # a mean, not a median: CPU seconds do not grow in a stall, and JIT
    # work that lands in a neighbouring unit is still counted
    e2e = {"setup_s": setup_s, "run_cpu_s": sum(units.cpu_s) / len(units.cpu_s)}
    print(json.dumps({"detail": {
        "workload": args.workload, "seed": args.seed, "rows": rows,
        "env": {k: v for k, v in env.items() if k != "PYTHONPATH"},
        "failures": ctx.failures[:20], **phases, "units_wall_s": units.wall_s,
        "units_cpu_s": units.cpu_s, "units_jit_s": units.jit_s, **out["detail"], **host,
    }}))
    values = layers if args.trace else e2e
    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in spec[kind]}
    print(json.dumps({
        "correct": ctx.failed == 0, "attempted": ctx.attempted,
        "failed": ctx.failed, "metrics": metrics,
    }))
    return 0


def _print_self_times(tracer) -> None:
    for root, row in tracer.self_times().items():
        total = sum(row.values())
        parts = ", ".join(f"{k}={v:.3f}" for k, v in sorted(row.items(), key=lambda kv: -kv[1]))
        print(f"# self time {root}: total={total:.3f}s {parts}", file=sys.stderr)


def _stop_gateway(gateway) -> None:
    """Shut the py4j gateway and wait for the JVM to exit."""
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


if __name__ == "__main__":
    sys.exit(main())
