"""The benchmark of blazingsql_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One run is one fresh process:

1. pins the host settings (``SPARK_GRAFT_CPUS`` = usable cores, a JVM
   heap of at most 2 GiB, ``local[cores]``) and makes a per-run directory
   under ``.perfbench_run/`` for every file the run writes, Spark's
   scratch space included; the directory is removed at exit;
2. sets up once, cold: start a SparkSession through ``Context`` (which
   launches the JVM), register the workload's tables (``perfbench/data``)
   with ``Context.create_table``, and run the workload's untimed warm-up;
   ``setup_s`` is the time from process start to the first timed
   operation;
3. runs the workload's seeded operations in a closed loop. How many
   depends on ``--seconds`` alone (a fixed nominal cost per operation),
   never on the program's speed, so the sample count and the percentile
   of the tail, which keeps ten samples beyond it, do not move between
   commits;
4. checks every answer, untimed;
5. prints one JSON line of details (host settings and weather, the
   workload's named figures, with the tail percentile and sample count),
   and last, the result line:
   ``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
   metrics when ``--trace 0`` and the per-layer metrics when ``--trace 1``.

The traced run sets a job group per operation, records spans around each
call into the project (summarised as self times, and written to
``.perfbench_out/<workload>-seed<n>.spans.jsonl``), reads Spark's status
store, Catalyst phase trackers and the JVM MXBeans, and measures the
layers a workload reaches only in its traced run (``trace_extra``). Its
figures are per-layer; its end-to-end figures differ from an untraced
run's by the tracing overhead, which it also reports.

Exit status: 0 on success; 1 if any answer was wrong or any operation
failed; 2 if the checkout lacks the project or the arguments are bad.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
HEAP = "2g"

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_s": "1/s",
}


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _pin_host(run_dir: str) -> int:
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return cpus


def _spark_conf(run_dir: str) -> dict[str, str]:
    return {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            "-XX:ReservedCodeCacheSize=512m -Djava.io.tmpdir=" + os.path.join(run_dir, "tmp")
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def _setup(cpus, conf, tables, paths, tracer):
    """One set-up: SparkSession through Context, then table registration.
    Returns (Context, start seconds, create_table seconds)."""
    from blazingsql_spark import Context

    with tracer.span("setup"):
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            bc = Context(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)
        t1 = time.perf_counter()
        with tracer.span("context.create_table"):
            for t in tables:
                bc.create_table(t, paths[t])
        t2 = time.perf_counter()
    return bc, t1 - t0, t2 - t1


def _stop_spark(bc) -> None:
    """Stop the SparkContext, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    bc.spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "blazingsql_spark", "__init__.py")):
        print(f"perfbench: no blazingsql_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import numpy as np

    from layers import Layers
    from spans import SparkProbe, Tracer
    from stats import calibrate, check_metric_name, cpu_times, op_median, steal_share, tail
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    bc = None
    try:
        cpus = _pin_host(run_dir)
        paths = {t: os.path.join(DATA, f"{t}.parquet") for t in cls.tables}
        conf = _spark_conf(run_dir)
        tracer = Tracer(enabled=bool(args.trace))
        layers = Layers(tracer)
        bc, start_s, create_s = _setup(cpus, conf, cls.tables, paths, tracer)
        if args.trace:
            layers.probe = SparkProbe(bc.spark)
            layers.add("session.start_s", start_s)
            layers.add("context.create_table_s", create_s)
        rng = np.random.default_rng(args.seed)
        workload = cls(bc, paths, layers, run_dir, args.seconds)
        t0 = time.perf_counter()
        workload.warm_up(rng)
        warm_up_s = time.perf_counter() - t0
        ops = workload.ops(rng)
        gc0 = layers.probe.gc_s() if layers.on else 0.0
        # weather is read after set-up so that the calibration loop does
        # not sit inside setup_s
        setup_s = time.perf_counter() - T_START
        weather = {"cal_pre_s": calibrate(), "loadavg_pre": list(os.getloadavg())}
        cpu0 = cpu_times()

        samples: list[float] = []
        timings: list[tuple[str, float]] = []
        attempted = failed = 0
        for kind, op in ops:
            attempted += 1
            t0 = time.perf_counter()
            try:
                with tracer.span("op", op=attempted):
                    op()
            except Exception as e:  # an operation that raises counts as failed
                failed += 1
                print(f"# {kind} raised {type(e).__name__}: {str(e)[:300]}", flush=True)
                break
            dt = time.perf_counter() - t0
            layers.end_op(kind)
            samples.append(dt)
            timings.append((kind, dt))
        timed = sum(samples)
        # peak memory of set-up and the timed loop; the checks that follow
        # load DuckDB into this process
        jvm_pid = bc.spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = {"python_mb": _vm_hwm_mb("self"), "jvm_mb": _vm_hwm_mb(jvm_pid)}
        peak_rss = sum(rss.values())
        if layers.on:
            layers.add("process.peak_rss_mb", peak_rss)
            layers.add("jvm.gc_s", layers.probe.gc_s() - gc0)
            layers.add("jvm.heap_peak_mb", layers.probe.heap_peak_mb())
        weather.update(steal_share=steal_share(cpu0, cpu_times()),
                       cal_post_s=calibrate(), loadavg_post=list(os.getloadavg()))
        if not failed:
            workload.check()
            if args.trace:
                workload.trace_extra(rng)
        failed += workload.failures
        attempted += workload.checked
        _stop_spark(bc)
        bc = None

        if failed:  # a failed run's timings are not reported
            print(json.dumps({"correct": False, "attempted": attempted, "failed": failed,
                              "metrics": {}}), flush=True)
            return 1
        p50 = op_median(timings)
        values = {
            "setup_s": setup_s,
            "op_p50_s": p50,
            "op_tail_s": tail(samples)[0],
            "ops_per_s": len(samples) / timed,
        }
        end_to_end = {k: (values[k], unit) for k, unit in END_TO_END.items()}
        named = dict(workload.named(samples, p50, timed))
        named.update(setup_s=end_to_end["setup_s"], error_rate=(failed / attempted, "ratio"),
                     peak_rss_mb=(peak_rss, "MB"))
        details = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "host": {"cpus": cpus, "master": f"local[{cpus}]", "heap": HEAP,
                     "inputs_mb": sum(os.path.getsize(p) for p in paths.values()) / 2**20},
            "peak_rss": rss,
            "weather": weather,
            "samples": len(samples),
            "timed_s": timed,
            "setup": {"session_start_s": start_s, "create_table_s": create_s,
                      "warm_up_s": warm_up_s},
            "wall_s": time.perf_counter() - T_START,
            "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
            "ops": timings,
        }
        if args.trace:
            for v in tracer.layer_self_times().get("op", []):
                layers.add("op.self_s", v)
            layers.add("trace.op_p50_s", p50)
            metrics = layers.summary()
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.spans.jsonl"))
        else:
            metrics = end_to_end
        print(json.dumps(details), flush=True)
        print(json.dumps({
            "correct": True,
            "attempted": attempted,
            "failed": 0,
            "metrics": {check_metric_name(k): {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }), flush=True)
        return 0
    finally:
        if bc is not None:
            _stop_spark(bc)
        shutil.rmtree(run_dir, ignore_errors=True)
        parent = os.path.dirname(run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
