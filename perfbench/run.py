#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest|query --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run is hermetic: it sets the
engine's environment itself (cores, driver memory, PYTHONPATH, a private
TMPDIR and Spark local dir under ``.perfbench_work/`` in the checkout),
generates its inputs from ``--seed``, builds the engine's session,
stages the events, checks results against DuckDB oracles, warms up, and
then times whole units of work for ``--seconds``. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). Each run appends a record with its host health
(CPU steal over the timed region) to ``.perfbench_out/runs.jsonl``; a
traced run also writes its spans and layer breakdown there.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "cassandra_iot_pipeline_spark"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("ingest", "query"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("bench", "smoke"), default="bench",
                   help="input size; 'smoke' is the small mode the benchmark's tests run")
    p.add_argument("--fault", action="store_true",
                   help="corrupt one checked result, to test that it counts as failed")
    return p.parse_args(argv)


def hermetic_env(work: str) -> None:
    """Environment the engine reads at import or JVM start."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # a quarter of the host's memory, 2-16 GB (the engine's default is 48g)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(16, max(2, mem_kb // 4 // 2**20))}g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)


def session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        # -UsePerfData: no hsperfdata file in the system /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                                         "-XX:-UsePerfData",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def install_spans(tracer) -> None:
    """Span wrappers around the public functions of each engine layer."""
    import importlib

    targets = {
        "api": [("IoTEngine", a) for a in ("ingest_stream", "hourly", "sensor_events")],
        "catalog": ["load_table"],
        "streaming.staging": ["stage_events_stream"],
        "streaming.pipeline": ["run_pipeline", "read_event_stream", "raw_passthrough_query",
                               "hourly_agg_query", "streaming_raw_passthrough"],
        "streaming.dedup": ["dedup_within_watermark", "double_delivery"],
        "streaming.sinks": [("ParquetUpsertSink", "write_batch"), ("ParquetUpsertSink", "read")],
        "operators.upsert": ["latest_by_pk"],
        "operators.serving": ["point_lookup"],
        "operators.joins": ["revenue_by_nation"],
        "sources.json_decode": ["decode_props"],
        "functions.dedup": ["minhash_lsh_pairs"],
        "functions.similarity": ["embedding_near_dups"],
    }
    sink_label = lambda args: os.path.basename(args[0].path)  # noqa: E731
    for layer, names in targets.items():
        mod = importlib.import_module(f"{PACKAGE}.{layer}")
        for name in names:
            if isinstance(name, tuple):
                cls, attr = name
                tracer.wrap(getattr(mod, cls), attr, f"{layer}.{attr}",
                            label=sink_label if layer == "streaming.sinks" else None)
            else:
                tracer.wrap(mod, name, f"{layer}.{name}")


def stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, PACKAGE))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no {PACKAGE}/ and __spark_entry__.py next to {HERE}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    hermetic_env(work)
    try:
        return _run(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))


def _run(args, work: str, out_dir: str) -> int:
    import fixtures
    import layers
    import tracing
    import workloads

    from cassandra_iot_pipeline_spark.session import build_session
    from cassandra_iot_pipeline_spark.streaming import staging

    stage_dir = os.path.join(work, "stage")
    # the registered replays stage with the default base_dir
    staging.stage_events_stream.__defaults__ = (stage_dir,)
    phases = {}
    t = time.perf_counter()
    fixture_dir = fixtures.generate(os.path.join(work, "fixtures"), args.seed,
                                    fixtures.SCALES[args.scale])
    phases["fixtures"] = time.perf_counter() - t

    tracer = listener = None
    if args.trace:
        tracer = tracing.Tracer()
        install_spans(tracer)
        tracer.enabled = False
    t = time.perf_counter()
    spark = build_session(extra_conf=session_conf(work, bool(args.trace)))
    phases["session_build"] = time.perf_counter() - t
    try:
        if args.trace:
            listener = tracing.ProgressListener()
            spark.streams.addListener(listener)
        t = time.perf_counter()
        staged = staging.stage_events_stream(spark, fixture_dir, base_dir=stage_dir)
        phases["staging"] = time.perf_counter() - t

        run = workloads.Run(spark=spark, work=work, fixtures=fixture_dir, staged=staged,
                            seed=args.seed, fault=args.fault, phases=phases)
        workload = workloads.WORKLOADS[args.workload](run)
        workload.prepare()

        setup_s = time.perf_counter() - T_START
        cpu0 = tracing.cpu_times()
        untraced, traced = workload.timed(args.seconds, tracer)
        cpu1 = tracing.cpu_times()
        calib_s = tracing.calibration_s()
        if args.trace:
            progress = listener.snapshot()
    finally:
        stop(spark)

    if not untraced.op_ms or (args.trace and not traced.op_ms):
        print("perfbench: no op completed: " + "; ".join(run.problems[:5]), file=sys.stderr)
        return 1
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "steal_pct_timed": tracing.steal_pct(cpu0, cpu1),
        "calib_python_loop_s": calib_s,
        "setup_phases_s": phases, "timed_units": len(untraced.units),
        "problems": run.problems,
    }
    if args.trace:
        log = tracing.read_event_log(os.path.join(work, "eventlog"))
        metrics, detail = layers.compute(run, tracer, log, progress, traced, untraced)
        detail["untraced_units"] = untraced.units
        detail["spans"] = tracer.dump()
        name = f"trace-{args.workload}-seed{args.seed}.json"
        with open(os.path.join(out_dir, name), "w") as fh:
            json.dump({"record": record, "per_layer": metrics, "detail": detail}, fh,
                      default=str)
        record["trace_file"] = name
    else:
        metrics = workloads.end_to_end(untraced, setup_s)
        record["units"] = untraced.units if args.workload == "query" else [
            {k: u[k] for k in ("op", "wall_s", "batch_ms", "storage")} for u in untraced.units]
    record["metrics"] = metrics
    with open(os.path.join(out_dir, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(record, default=str) + "\n")
    print(f"perfbench: {args.workload} seed={args.seed} steal={record['steal_pct_timed']:.2f}% "
          f"calib={calib_s:.3f}s "
          f"problems={run.problems[:3]}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
