"""Benchmark of the quality filter and its operators on this machine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One invocation is one fresh Python process and one fresh JVM at
``local[nproc]``, a closed loop with one client. It

1. builds the seeded input (cached per seed under ``perfbench/.cache``),
2. times the session set-up twice: once in a probe process, once in
   this process,
3. runs the workload's job once in this process, one Spark action at a
   time, while sampling the memory of the process tree,
4. checks every operation's output against the repository's reference
   implementations, and
5. prints a summary and, as the last line, one JSON object with the
   end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``) named in ``BENCHMARK.json``.

The job is a fixed amount of work sized to take about ``--seconds`` on
four cores; it runs cold, as a batch job run by spark-submit does.
``--trace 1`` adds Spark's event log, spans around the catalog, runner
and dedup calls, and traced-only extras (forced signal and verdict
frames, the kernel microbenchmark); its ``traced.*`` metrics against an
untraced run's end-to-end metrics are the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_PROBES = 1


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill a probe's process group (it, its JVM and workers) and wait
    until none of them is left."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    raise RuntimeError(f"set-up probe group {proc.pid} did not exit")


def probe_setup(log_dir: str | None) -> dict:
    """One set-up sample in a fresh process."""
    cmd = [sys.executable, os.path.join(HERE, "startup.py")]
    if log_dir:
        cmd.append(log_dir)
    proc = subprocess.Popen(cmd, stdin=subprocess.PIPE,
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        line = proc.stdout.readline()
    finally:
        _stop_group(proc)
    if not line:
        raise RuntimeError("set-up probe exited without a result")
    return json.loads(line)


def stop_spark(spark) -> None:
    """Stop the session, then its JVM, and wait for every child process
    (the JVM and the Python workers) to end."""
    from pyspark import SparkContext

    from tracing import tree_pids
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    me = os.getpid()
    deadline = time.monotonic() + 30
    while set(tree_pids(me)) - {me}:
        if time.monotonic() > deadline:
            for pid in set(tree_pids(me)) - {me}:
                os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


def layer_metrics(workload: str, tracer, log_path: str, layer: dict,
                  meta: dict) -> dict:
    """Per-layer metrics from spans and the event log; layers a workload
    does not reach read 0."""
    from tracing import EventLog
    ev = EventLog(log_path)
    out = dict(layer)
    job = ev.summary(tracer.subtree("job"))
    out.update(job.engine())
    if workload == "warehouse_ingest":
        pages = meta["pages"]
        verd = ev.summary(tracer.subtree("pipeline.verdicts"))
        py = verd.python()
        out.update({
            "pipeline.signals_s": tracer.seconds("pipeline.signals"),
            "pipeline.verdicts_s": tracer.seconds("pipeline.verdicts"),
            "pipeline.shuffle_write_bytes": verd.task_sum(
                "Shuffle Write Metrics", "Shuffle Bytes Written"),
            "pipeline.shuffle_records": verd.task_sum(
                "Shuffle Write Metrics", "Shuffle Records Written"),
            "pipeline.join_build_bytes": verd.sql_sum(
                "data size of build side"),
            "pipeline.spill_bytes": verd.task_sum("Disk Bytes Spilled"),
            "pipeline.max_task_over_median":
                verd.max_task_over_median("ShuffledHashJoin"),
            "runner.pending_dates_s":
                tracer.seconds("runner.pending_dates"),
            "runner.udf_rows_per_input_row": ev.summary(
                tracer.subtree("ingest")).python()["rows"] / pages,
            "dedup.lsh_s": tracer.seconds("dedup.lsh"),
            "dedup.connected_components_s": tracer.seconds("dedup.cc"),
            "dedup.cc_jobs": len(ev.summary(
                tracer.subtree("dedup.cc")).jobs),
        })
        for t in ("pages_filtered", "metrics", "dropped_by_rule", "lineage"):
            out[f"catalog.write_s.{t}"] = tracer.seconds(
                f"catalog.write.{t}")
        rows_in = pages
    else:
        py = job.python()
        rows_in = meta["input_rows"]
    out.update({
        "udfs.python_start_s": py["start_s"],
        "udfs.python_init_s": py["init_s"],
        "udfs.python_run_s": py["run_s"],
        "udfs.bytes_to_python": py["bytes_to"],
        "udfs.bytes_from_python": py["bytes_from"],
        "udfs.rows_per_input_row": py["rows"] / rows_in,
    })
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-test uses a tiny one)")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    import startup
    startup.prepare_env()
    subprocess.run(
        [sys.executable, os.path.join(HERE, "inputs.py"), args.workload,
         str(args.seed), repr(args.scale)], check=True)
    from inputs import input_dir
    inp = input_dir(args.workload, args.seed, args.scale)
    with open(os.path.join(inp, "meta.json")) as f:
        meta = json.load(f)

    work = os.path.join(startup.WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    try:
        samples = [probe_setup(os.path.join(work, f"probe{i}-eventlog")
                               if log_dir else None)
                   for i in range(SETUP_PROBES)]

        from tracing import (MemorySampler, Tracer, event_log_conf,
                             find_event_log)
        from workloads import WORKLOADS, OpLog
        log = OpLog()
        with MemorySampler() as mem:
            spark, udfs, t = startup.start(
                event_log_conf(log_dir) if log_dir else None,
                timed_models=bool(args.trace))
            samples.append(t)
            tracer = Tracer(spark if args.trace else None)
            job_s, layer, checks = WORKLOADS[args.workload](
                spark, udfs, inp, work, tracer, bool(args.trace), log,
                args.seed)
            stop_spark(spark)
        checks()

        e2e = {"setup_s": statistics.median(s["setup_s"] for s in samples),
               "job_s": job_s,
               "peak_pss_mb": mem.peak / 2**20}
        if args.trace:
            tracer.dump(os.path.join(
                startup.WORK, f"spans-{args.workload}-s{args.seed}.json"))
            metrics = layer_metrics(args.workload, tracer,
                                    find_event_log(log_dir), layer, meta)
            for key in samples[0]:
                if key != "setup_s":
                    metrics[key] = statistics.median(s[key] for s in samples)
            metrics.update({f"traced.{k}": v for k, v in e2e.items()})
        else:
            metrics = e2e
    finally:
        shutil.rmtree(work, ignore_errors=True)

    unknown = set(metrics) - {m["name"] for m in spec["per_layer"]} \
        - {m["name"] for m in spec["end_to_end"]}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {unknown}")
    result = {
        "correct": log.failed == 0,
        "attempted": log.attempted,
        "failed": log.failed,
        "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)),
                                "unit": m["unit"]} for m in wanted},
    }
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"local[{startup.cores()}] driver_mem={startup.DRIVER_MEM} "
          f"input={json.dumps(meta.get('rows', meta.get('pages')))}")
    for p in log.problems:
        print(f"# FAILED {p}")
    print(f"# failed_op_frac = {log.failed / max(1, log.attempted):g} "
          f"({log.failed}/{log.attempted})")
    for name, m in result["metrics"].items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    if not args.trace:
        for name, v in sorted(layer.items()):
            print(f"# (layer) {name} = {v:.6g}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
