#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one closed loop.

    python3 perfbench/run.py --workload cdc_pipeline --seed 1 --seconds 5 --trace 0

Runs from the root of a source checkout and imports the program from there.
Set-up (Spark session, schema inference, initial load, warm-up ops) is
followed by timed ops until ``--seconds`` of op wall have passed; then the
outputs are checked against an independent computation. The last line of
stdout is the result JSON; everything else, Spark's own output included,
goes to stderr, with one ``perfbench host`` line of host context (and,
traced, one ``perfbench spans`` line). ``--trace 1`` prints the per-layer
metrics instead of the end-to-end ones.

Every run works in its own directory under ``.perfbench_run/`` (inputs,
outputs, checkpoints, TMPDIR, SPARK_LOCAL_DIRS) and removes it at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc_pipeline", "analytics_mix")


def _process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms grain)."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start = int(raw[raw.rindex(")") + 2:].split()[19]) / os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime") as f:
        return float(f.read().split()[0]) - start


def _task_slots() -> int:
    """Fewer Spark task slots than CPUs, so the session process and the
    JVM's GC and JIT threads keep a core."""
    return max(1, min(3, (os.cpu_count() or 2) - 1))


def _import_program() -> None:
    """Import the program from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    try:
        import split_kinesis_streams_with_glue_spark as pkg
    except ImportError as exc:
        raise SystemExit(f"perfbench: program not found under {ROOT}: {exc}")
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"perfbench: program imported from {pkg.__file__}, not {ROOT}")


def _spec() -> dict:
    """BENCHMARK.json at the checkout's root: the metrics' names and units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(args, root: str) -> dict:
    import probe
    import workloads

    _import_program()
    from split_kinesis_streams_with_glue_spark.session import get_spark

    host0 = probe.host_snapshot()
    wl = (workloads.PipelineWorkload if args.workload == "cdc_pipeline"
          else workloads.AnalyticsWorkload)(args.seed, root)
    t, c = time.perf_counter(), os.times()
    wl.write_inputs()
    # the benchmark's own writing of inputs is not set-up
    input_s = time.perf_counter() - t
    input_cpu_s = sum(os.times()[:2]) - sum(c[:2])

    slots = _task_slots()
    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{slots}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": f"{root}/warehouse",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            # keep every job of a run in the status store for JobWindow
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    layers = {"session.get_spark_s": time.perf_counter() - t}
    jvm = spark.sparkContext._gateway.proc
    cpu = probe.ProcCpu(jvm.pid)
    try:
        layers.update(wl.setup(spark))
        # set-up in CPU seconds (reported as setup_s) and in wall seconds
        setup_cpu_s = cpu.seconds() - input_cpu_s
        setup_wall_s = _process_age_s() - input_s
        ops, samples, tracer = _loop(args, spark, wl, cpu)
        peak_rss_mb = probe.peak_rss_mb(jvm.pid)
    finally:
        spark.stop()
        jvm.stdin.close()  # the JVM exits on EOF; wait for it
        jvm.wait(timeout=120)
    wl.check()

    host1 = probe.host_snapshot()
    print("perfbench host " + json.dumps({
        "task_slots": slots, "nproc": os.cpu_count(),
        "steal_s": round(host1["steal_s"] - host0["steal_s"], 2),
        "loadavg_before": host0["loadavg"], "loadavg_after": host1["loadavg"],
        "setup_wall_s": round(setup_wall_s, 3), "setup_cpu_s": round(setup_cpu_s, 2),
        "jvm_peak_rss_mb": round(peak_rss_mb),
        "op_walls": [round(o["wall"], 3) for o in ops],
        "op_cpu_s": [round(o["cpu_s"], 2) for o in ops],
        "op_steal_share": [round(o["steal"], 3) for o in ops],
    }), file=sys.stderr)

    spec = _spec()
    if not args.trace:
        values = {
            "setup_s": setup_cpu_s,
            "cpu_s_per_op": statistics.median(o["cpu_s"] for o in ops),
            "jobs_per_op": statistics.median(o["jobs"] for o in ops),
        }
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    else:
        print("perfbench spans " + json.dumps(tracer.dump()), file=sys.stderr)
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = dict.fromkeys(units, 0.0)
        for name in values:
            if name in samples[0]:
                values[name] = statistics.median(s[name] for s in samples)
        values.update(layers)
        values["setup.wall_s"] = setup_wall_s
        values["op_p50_s"] = statistics.median(o["wall"] for o in ops)
        values["epoch_p50_s"] = statistics.median(o["epoch_s"] for o in ops)
        values["records_per_s"] = (sum(o["records"] for o in ops)
                                   / sum(o["pipeline_s"] for o in ops))
        values["queries_per_s"] = (sum(o["queries"] for o in ops)
                                   / sum(o["query_s"] for o in ops))
        values["host.steal_share"] = statistics.median(o["steal"] for o in ops)
        values["stored_mb"] = probe.tree_bytes(*wl.outputs()) / 1e6
        values["plans.tmp_dirs_left"] = sum(
            1 for f in os.listdir(os.environ["TMPDIR"]) if f.startswith("sgs_"))
    return {
        "correct": True,
        "attempted": len(ops),
        "failed": 0,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }


def _loop(args, spark, wl, cpu):
    """Timed ops until ``args.seconds`` of op wall. With tracing, every op
    runs with the shims and per-query status-store reads and gives one
    per-layer sample."""
    import probe

    tracer = probe.Tracer()
    window = probe.JobWindow(spark)
    ops, samples, measured, k = [], [], 0.0, wl.first_op
    shims = probe.program_shims(tracer) if args.trace else None
    try:
        while measured < args.seconds:
            wl.prepare(k)
            per_query: dict[str, tuple[float, dict]] = {}

            def on_query(name: str, dt: float) -> None:
                if args.trace:
                    per_query[name] = (dt, window.take(dt))

            tracer.op = k
            c0, since, (s0, a0) = cpu.seconds(), time.time(), probe.cpu_ticks()
            t0 = time.perf_counter()
            with tracer.span("op") if args.trace else contextlib.nullcontext():
                r = wl.op(spark, k, on_query)
            wall = time.perf_counter() - t0
            c1, (s1, a1) = cpu.seconds(), probe.cpu_ticks()
            work = window.take(wall)
            if per_query:
                work = probe.sum_work([w for _, w in per_query.values()], wall)
            ops.append({"wall": wall, "cpu_s": c1 - c0,
                        "steal": (s1 - s0) / max(1, a1 - a0), "jobs": work["jobs"],
                        **r.__dict__})
            if args.trace:
                samples.append(_sample(wl, work, per_query, tracer.totals({k}), since))
            measured += wall
            k += 1
    finally:
        if shims is not None:
            shims.remove()
    return ops, samples, tracer


def _sample(wl, work: dict, per_query: dict, spans: dict, since: float) -> dict:
    """Per-layer numbers of one traced op."""
    import probe

    sample = {f"spark.{key}": v for key, v in work.items()}
    sample.update(wl.op_layers(since))
    for q, (s, w) in per_query.items():
        sample[f"plans.{q}.s"] = s
        sample[f"plans.{q}.executor_cpu_ms"] = w["executor_cpu_ms"]
    for name, (calls, secs) in spans.items():
        if name in probe.SPAN_METRICS:
            calls_metric, s_metric = probe.SPAN_METRICS[name]
            sample[s_metric] = secs
            if calls_metric:
                sample[calls_metric] = calls
    return sample


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # stdout carries the result line only: fd 1 (inherited by the JVM) is
    # pointed at stderr, and the result is written to a saved copy
    result_fd = os.dup(1)
    os.dup2(2, 1)
    sys.path.insert(0, HERE)
    base = os.path.join(ROOT, ".perfbench_run")
    root = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(f"{root}/tmp")
    os.makedirs(f"{root}/local")
    os.environ.update(TMPDIR=f"{root}/tmp", SPARK_LOCAL_DIRS=f"{root}/local",
                      SPARK_GRAFT_CPUS=str(_task_slots()))
    tempfile.tempdir = None  # re-read TMPDIR
    try:
        result = run(args, root)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(root, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(base)  # only when no other run is using it
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
