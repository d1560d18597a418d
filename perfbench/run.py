#!/usr/bin/env python3
"""Benchmark for the CDC engine: one command, every metric by name.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 10 --trace 0

runs one workload (see workloads.py) on a fresh ``local[nproc]`` Spark
session sized to this host, checks its outputs against an independent
oracle, prints every metric as ``metric <name> = <value> <unit>`` and,
as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (tracing off). ``--trace 1``
is a separate run with spans tagged as Spark job groups and an event
log; it reports the per-layer metrics. ``--overhead`` runs a workload
both ways in child processes and prints the tracing overhead.
``--selfcheck`` runs every workload at toy size, with tracing and every
correctness gate, in one process.

Run it from the root of a checkout: the engine package is imported from
there, and all tables, Spark local dirs and event logs live under
``.perfbench_work/`` in it (disk-backed, so fsync and write costs show).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "write_p50_ms": "ms",
    "events_per_s": "1/s",
    "lookup_p50_ms": "ms",
    "feed_p50_ms": "ms",
    "scan_p50_ms": "ms",
}
# end-to-end timings a traced run repeats, to show tracing overhead
TRACED_E2E = ("write_p50_ms", "events_per_s", "lookup_p50_ms", "feed_p50_ms", "scan_p50_ms")

SPAN_KINDS = ("replay", "epoch", "lookup", "feed", "scan")
SELF_LAYERS = ("harness", "cdc.replay", "cdc.apply", "streaming.stream_replay", "cdc.table.read")

# name -> unit; every traced run reports all of them (0 where the
# workload does not exercise that layer)
PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "synth.gen_s": "s",
    "bootstrap.convert_s": "s",
    "table.age_s": "s",
    "replay.upfront_stats_s": "s",
    "replay.chunks_applied": "count",
    **{f"apply.{p}_s": "s" for p in ("stats", "plan_build", "merge_write", "footer_stats", "commit", "lineage")},
    **{
        f"stream.{p}_ms": "ms"
        for p in ("add_batch", "query_planning", "wal_commit", "commit_offsets", "get_batch", "latest_offset")
    },
    "stream.epochs": "count",
    "stream.input_rows_per_event": "count",
    "table.commit_ms_p50": "ms",
    "table.commit_ms_p90": "ms",
    "table.load_ms": "ms",
    "table.version_doc_bytes": "bytes",
    "table.metadata_dir_bytes": "bytes",
    "table.bytes_written_per_event": "bytes",
    "table.buckets_touched_per_batch": "count",
    "table.data_bytes": "bytes",
    "table.files": "count",
    "table.deltas_per_bucket": "count",
    "read.lookup_buckets_opened": "count",
    "read.feed_buckets_scanned": "count",
    "read.feed_rows": "count",
    "read.scan_rows": "count",
    **{
        f"spark.{k}.{c}": ("s" if c.endswith("_s") else "bytes" if c.endswith("_bytes") else "count")
        for k in SPAN_KINDS
        for c in (
            "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
            "shuffle_read_bytes", "spill_bytes", "output_bytes", "tasks",
        )
    },
    **{f"self.{layer}_s": "s" for layer in SELF_LAYERS},
    "trace.self_coverage": "ratio",
    **{f"trace.{m}": END_TO_END[m] for m in TRACED_E2E},
}


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def host_facts(path: str) -> dict:
    """CPU count, available memory and the filesystem ``path`` is on."""
    cpus = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                mem_kb = int(line.split()[1])
    fs = "unknown"
    best = ""
    real = os.path.realpath(path)
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, typ = line.split()[:3]
            if (real == mnt or real.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, fs = mnt, typ
    return {
        "cpus": cpus,
        "mem_available_mb": mem_kb // 1024,
        # a quarter of what is free now: the driver heap shares the box
        # with Python, the page cache the tables live in, and neighbours
        "driver_mem_mb": max(mem_kb // 4096, 1024),
        "work_dir_fs": fs,
        "work_dir_mount": best,
        # what the engine makes durable: commit() fsyncs the version
        # document and CURRENT; Spark-written data files are not fsynced
        "flush_policy": "metadata fsync per commit (version doc + CURRENT); data files page-cache only",
    }


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def stop_jvm() -> None:
    """End the gateway JVM this process launched and wait until it has
    exited (it also exits on its own when our stdin pipe closes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is None or proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_workload(
    name: str, seed: int, seconds: float, trace: bool, sizes, work: str, own_jvm: bool = True
) -> dict:
    """Start a session, run one workload, stop the session (and, with
    ``own_jvm``, its JVM). Returns the measured figures; prints nothing."""
    import tracing
    import workloads
    from medallion_etl_spark.session import get_spark

    # Spark's local dirs come from SPARK_LOCAL_DIRS (size_session)
    conf = {"spark.ui.showConsoleProgress": "false"}
    log_dir = os.path.join(work, "eventlog")
    if trace:
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                # the session's io codec is zstd; the rollup reads plain JSON
                "spark.eventLog.compress": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{name}", extra_conf=conf)
    session_s = time.perf_counter() - t0
    try:
        tracer = tracing.Tracer(spark.sparkContext, spark_groups=trace)
        progress = tracing.ProgressCollector()
        spark.streams.addListener(progress.listener)
        ctx = workloads.Ctx(spark, work, seed, seconds, sizes, tracer, progress)
        ctx.layers["session.start_s"] = session_s
        workloads.WORKLOADS[name](ctx)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        ctx.layers["session.peak_rss_mb"] = (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024
        defaults = workloads.shipped_defaults()
    finally:
        spark.stop()
        if own_jvm:
            stop_jvm()

    timed_s = sum(s.dur for s in tracer.of_kind("timed"))
    out = {
        "workload": name,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "failures": ctx.failures,
        # the first set-up runs in a cold JVM: it is reported in info only
        "e2e": {"setup_s": statistics.median(ctx.setup_times[1:]), **ctx.e2e},
        "layers": dict(ctx.layers),
        "info": {**ctx.info, "timed_s": round(timed_s, 3),
                 "setup_reps_s": [round(x, 3) for x in ctx.setup_times], "shipped_defaults": defaults},
    }
    if trace:
        selfs: dict[str, float] = {}
        for root in tracer.of_kind("timed"):
            for layer, v in tracer.self_times(root).items():
                selfs[layer] = selfs.get(layer, 0.0) + v
        for layer in SELF_LAYERS:
            out["layers"][f"self.{layer}_s"] = selfs.get(layer, 0.0)
        out["layers"]["trace.self_coverage"] = 1.0 - selfs.get("harness", 0.0) / timed_s
        for m in TRACED_E2E:
            out["layers"][f"trace.{m}"] = out["e2e"][m]
        counters, facts = tracing.rollup(tracing.read_event_log(log_dir), tracer)
        for kind in SPAN_KINDS:
            for c, v in counters.get(kind, {}).items():
                out["layers"][f"spark.{kind}.{c}"] = v
        out["info"]["spark_jobs"] = facts["jobs"]
        out["info"]["unattributed_jobs"] = facts["unattributed_jobs"]
        out["info"]["merge_path_observed"] = facts["merge_paths"]
    return out


def report(out: dict, trace: bool, host: dict) -> None:
    print("host " + json.dumps(host))
    print("info " + json.dumps(out["info"], default=str))
    for f in out["failures"]:
        print("FAILED " + f)
    for name, unit in END_TO_END.items():
        print(f"metric {name} = {out['e2e'][name]:.6g} {unit}")
    if trace:
        for name, unit in PER_LAYER.items():
            print(f"metric {name} = {float(out['layers'].get(name, 0.0)):.6g} {unit}")
    table = PER_LAYER if trace else END_TO_END
    source = out["layers"] if trace else out["e2e"]
    metrics = {n: {"value": float(source.get(n, 0.0)), "unit": u} for n, u in table.items()}
    print(
        json.dumps(
            {
                "correct": out["failed"] == 0,
                "attempted": out["attempted"],
                "failed": out["failed"],
                "metrics": metrics,
            }
        )
    )


def check_program() -> None:
    """The benchmark measures the engine of the checkout it sits in."""
    if not os.path.isfile(os.path.join(ROOT, "medallion_etl_spark", "__init__.py")):
        fail(f"no medallion_etl_spark package under {ROOT}: run from a full checkout")
    sys.path[:0] = [ROOT, HERE]
    import medallion_etl_spark

    if not os.path.abspath(medallion_etl_spark.__file__).startswith(ROOT + os.sep):
        fail(f"medallion_etl_spark imported from {medallion_etl_spark.__file__}, not {ROOT}")


def size_session(host: dict, work: str) -> None:
    """Host sizing through the knobs the engine already reads, and every
    scratch location (Spark local dirs, Python and JVM temp files)
    inside ``work``, which this creates."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(host["cpus"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{host['driver_mem_mb']}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ.pop("SPARK_GRAFT_MASTER", None)


def overhead(args) -> None:
    """Run the workload untraced then traced; print the difference."""
    res = {}
    for t in (0, 1):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(t)]
        proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, check=True)
        res[t] = json.loads(proc.stdout.strip().splitlines()[-1])["metrics"]
    for name in TRACED_E2E:
        a, b = res[0][name]["value"], res[1][f"trace.{name}"]["value"]
        print(f"overhead {args.workload} {name}: untraced {a:.6g} traced {b:.6g} ({(b / a - 1) * 100:+.1f}%)")


def selfcheck() -> int:
    """Every workload at toy size, traced, all gates, one process; also
    checks that the metric names match BENCHMARK.json."""
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    if [m["name"] for m in bench["end_to_end"]] != list(END_TO_END):
        problems.append("BENCHMARK.json end_to_end names differ from run.py")
    if [m["name"] for m in bench["per_layer"]] != list(PER_LAYER):
        problems.append("BENCHMARK.json per_layer names differ from run.py")
    if [w["name"] for w in bench["workloads"]] != list(workloads.WORKLOADS):
        problems.append("BENCHMARK.json workloads differ from run.py")
    t0 = time.perf_counter()
    base = os.path.join(ROOT, ".perfbench_work", f"selfcheck-{os.getpid()}")
    size_session(host_facts(ROOT), base)
    try:
        for name in workloads.WORKLOADS:
            work = os.path.join(base, name)
            os.makedirs(work)
            out = run_workload(name, 1, 0.0, True, workloads.TOY, work, own_jvm=False)
            info = out["info"]
            print(f"selfcheck {name}: {'ok' if out['failed'] == 0 else 'FAILED'} "
                  f"({out['attempted'] - out['failed']}/{out['attempted']} gates), "
                  f"coverage {out['layers']['trace.self_coverage']:.3f}, {info['spark_jobs']} Spark jobs "
                  f"({info['unattributed_jobs']} outside spans), merge path {info['merge_path_observed']}, "
                  f"at {time.perf_counter() - t0:.1f} s")
            problems += [f"{name}: {f}" for f in out["failures"]]
            write_kind = "replay" if name == "bulk_replay" else "epoch"
            for kind in (write_kind, "lookup", "feed", "scan"):
                if not out["layers"].get(f"spark.{kind}.tasks"):
                    problems.append(f"{name}: no Spark tasks attributed to {kind} spans")
    finally:
        stop_jvm()
        shutil.rmtree(base, ignore_errors=True)
    print(f"selfcheck took {time.perf_counter() - t0:.1f} s")
    for p in problems:
        print("PROBLEM " + p)
    return 1 if problems else 0


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--overhead", action="store_true", help="print tracing overhead for --workload")
    ap.add_argument("--selfcheck", action="store_true", help="toy-size run of every workload and gate")
    args = ap.parse_args()

    check_program()
    import workloads

    if args.selfcheck:
        sys.exit(selfcheck())
    if args.workload not in workloads.WORKLOADS:
        fail(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    if args.overhead:
        overhead(args)
        return
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    host = host_facts(ROOT)
    size_session(host, work)
    try:
        out = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), workloads.FULL, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(out, bool(args.trace), host)


if __name__ == "__main__":
    main()
