"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Run it from the repository root: the engine is imported from there, and
all scratch state goes under ``.bench_work/`` (removed at exit) and the
traced run's spans under ``.bench_out/``. One driver process runs Spark
``local[nproc]`` with ``nproc`` shuffle partitions and one closed-loop
client. Setup (session, inputs, base state and one untimed op of the
measured shape) is followed by timed ops until ``--seconds`` have passed
and at least ``MIN_OPS`` ops have completed.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it is a JSON
report with every workload metric, its unit and sample count, the host
probe and the pinned environment. See perfbench/METRICS.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

# Every run times at least this many ops, so the median is taken over the
# same op positions in every run (the first timed op is still warming up,
# and serve's every 4th round compacts) instead of shifting with how many
# ops happened to fit in --seconds.
MIN_OPS = 3
# The run stops starting ops this long after process start, so that it
# always exits well inside the 180 s a run is allowed.
HARD_STOP_S = 130.0
DRIVER_MEMORY = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["serve", "curate"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def pin_environment(root: str, work: str) -> dict:
    """Pin threads to the cores this process may use, keep every file the
    run writes inside the checkout, and let Spark's Python workers import
    the engine from the checkout."""
    nproc = len(os.sched_getaffinity(0))
    local_dirs = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local_dirs)
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": local_dirs,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
    })
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS", "ARROW_NUM_THREADS"):
        os.environ[var] = "1"  # Spark runs nproc tasks; each stays single-threaded
    sys.path.insert(0, root)
    return {
        "nproc": nproc,
        "loadavg": os.getloadavg(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_LOCAL_DIRS": os.path.relpath(local_dirs, root),
        "driver_memory": DRIVER_MEMORY,
    }


def start_session(work: str, nproc: int):
    from opengin_ingestion_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # JVM temp files inside the checkout; no hsperfdata file in /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            # keep every job of a run in the status store for exact counts
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM (and its Python workers) exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "opengin_ingestion_spark", "__init__.py")):
        print("perfbench: run from the repository root (no opengin_ingestion_spark/ here)",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(root, work)

    from perfbench.spans import Tracer, probe_python, probe_spark, vm_hwm_mb
    from perfbench.workloads import WORKLOADS
    from perfbench import layers

    # host calibration at the start and the end of the run: the Python
    # loop runs before the JVM starts, whose start-up threads would slow it
    probes = [{"py_s": probe_python()}]
    t = time.perf_counter()
    spark = start_session(work, env["nproc"])
    session_s = time.perf_counter() - t
    jvm_proc = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        probes[0]["spark_s"] = probe_spark(spark)
        wl = WORKLOADS[args.workload](
            spark, tracer, os.path.join(work, args.workload), args.seed,
            WORKLOADS[args.workload].FULL,
        )
        wl.setup()
        setup_s = time.perf_counter() - T0

        oks, lat = [], []
        deadline = time.perf_counter() + args.seconds
        while True:
            tracer.op = f"op-{len(oks)}"
            t = time.perf_counter()
            try:
                ok = wl.op()
            except Exception:
                traceback.print_exc()
                ok = False
            lat.append(time.perf_counter() - t)
            oks.append(ok)
            now = time.perf_counter()
            if (now >= deadline and len(oks) >= MIN_OPS) or now - T0 > HARD_STOP_S or not ok:
                break
        tracer.op = "final"
        try:
            final_ok = wl.final()
        except Exception:
            traceback.print_exc()
            final_ok = False
        if not final_ok:
            oks[-1] = False  # the state the last op left behind is wrong

        per_layer = None
        if args.trace:
            wl.decompose()
            per_layer = layers.sweep_and_collect(
                spark, tracer, wl, work, args.seed, WORKLOADS, lat, session_s
            )
        wl_metrics = wl.report()
        probes.append({"py_s": probe_python(), "spark_s": probe_spark(spark)})
        jvm_heap = tracer.counts.heap_peak_mb() if args.trace else None
        rss = vm_hwm_mb() + (vm_hwm_mb(jvm_proc.pid) if jvm_proc else 0.0)
        if args.trace:
            tracer.write(os.path.join(
                root, ".bench_out", f"spans_{args.workload}_seed{args.seed}.json"
            ))
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(not ok for ok in oks)
    op_p50 = statistics.median(lat)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "env": env,
        "host_probe": probes,
        "metrics": {
            "setup_s": (setup_s, "s", 1),
            "session_start_s": (session_s, "s", 1),
            "op_p50_s": (op_p50, "s", len(lat)),
            "items_per_s": (wl.items_per_op / op_p50, "1/s", len(lat)),
            "peak_rss_mb": (rss, "MB", 1),
            "error_rate": (failed / len(oks), "ratio", len(oks)),
            **wl_metrics,
        },
    }
    if args.trace:
        per_layer["host.probe_s"] = (
            statistics.mean(p["py_s"] + p["spark_s"] for p in probes), "s")
        per_layer["jvm.heap_peak_mb"] = (jvm_heap, "MB")
        per_layer["host.peak_rss_mb"] = (rss, "MB")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
    else:
        metrics = {
            k: {"value": report["metrics"][k][0], "unit": report["metrics"][k][1]}
            for k in ("setup_s", "op_p50_s")
        }
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(oks),
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
