#!/usr/bin/env python3
"""The repository's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload extract_job --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all        # every workload, untraced and traced

Builds the workload's inputs from --seed, starts Spark on
local[<task slots>] from this single driver process, makes the workload's
untimed warm-up runs, then closed-loop timed runs (one job at a time)
for --seconds and at least one, checks every run's output, and
prints one JSON object as the last line of stdout: {"correct",
"attempted", "failed", "metrics"}. With --trace 0 the metrics are the
end-to-end ones; with --trace 1 the untraced runs are followed by one
traced run and the per-layer measurements. Spans and session facts go
to .perfbench/traces/ when the run ends. Exits 1 if any run failed.
See perfbench/README.md for the workloads, metrics and gates.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")  # all files the benchmark writes

WARM_SETUPS = 2  # session set-ups after the one that starts the JVM
RUN_TIMEOUT_S = 90  # a run still going after this is cancelled and fails
REAP_GRACE_S = 20  # descendants still alive this long after the JVM are killed
PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: a
    descendant whose parent exits (a PySpark daemon or worker outliving
    the JVM) is re-parented here rather than to init, so
    `reap_descendants` can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    from probes import _read_stat

    me = os.getpid()
    stats = ((int(name), _read_stat(int(name))) for name in os.listdir("/proc") if name.isdigit())
    return [pid for pid, st in stats if st is not None and st[1] == me]


def reap_descendants() -> None:
    """Wait until every process this one started, and every orphan
    re-parented to it, has ended and been reaped. Those still running
    after REAP_GRACE_S get SIGTERM, and SIGKILL five seconds later."""
    t0 = time.monotonic()
    sent = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return  # no children left, running or exited
        waited = time.monotonic() - t0
        sig = signal.SIGKILL if waited > REAP_GRACE_S + 5 else signal.SIGTERM if waited > REAP_GRACE_S else None
        if sig is not None and sig != sent:
            for pid in _children():
                print(f"[perfbench] sending {sig.name} to leftover process {pid}", file=sys.stderr)
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.05)


def _exit_on_signal(signum, _frame):
    raise SystemExit(128 + signum)  # unwinds through the cleanup in main()


def host_session(cores_per_slot: int) -> tuple[int, int]:
    """Size the session from the host: local[<usable cores /
    the workload's cores_per_slot>], and a driver heap of a quarter of
    MemTotal through session.py's SPARK_DRIVER_MEM override (its 48g
    default exceeds small hosts). Spark's and Python's scratch files
    stay inside the checkout."""
    cores = max(1, len(os.sched_getaffinity(0)) // cores_per_slot)
    with open("/proc/meminfo") as f:
        mem_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    driver_mb = mem_kib // 4 // 1024
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_mb}m"
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"])
    )
    return cores, driver_mb


def _touch_kernel(batches):
    from docling_pdf_spark.core.batch import extract_arrow_batch  # noqa: F401

    for b in batches:
        yield b.slice(0, 0)


def new_session(cores: int):
    """get_spark as the jobs call it, plus the Python worker warm-up:
    one task per core starts a worker that imports the kernel."""
    from docling_pdf_spark.session import get_spark

    spark = get_spark("perfbench", local_cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(cores, numPartitions=cores).mapInArrow(_touch_kernel, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, if one was made, and the JVM, if one was
    launched, and wait for the JVM to exit: it quits when its stdin
    closes, and takes the Python workers with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
        elif SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()


def timed_runs(wl, spark, seconds: float, tree, rss, tracer) -> tuple[list[dict], list[dict]]:
    """The workload's warm-up runs, then a closed loop: the next run
    starts when the previous one has been checked, until `seconds` have
    passed and at least one run was made. Returns (warm-up, timed).

    Without warm-up the first timed run is the first job of a fresh
    session, JIT and code generation included, as each jobs/*.py
    invocation is. Runs after it keep speeding up for a few runs, by
    amounts that vary from process to process; a workload whose first
    run varies more than its settled runs warms up first."""
    warmup = [one_run(wl, spark, tree, rss, tracer, "warmup") for _ in range(wl.warmup_runs)]
    runs = []
    t_end = time.perf_counter() + seconds
    while not runs or time.perf_counter() < t_end:
        runs.append(one_run(wl, spark, tree, rss, tracer, "run"))
    return warmup, runs


def one_run(wl, spark, tree, rss, tracer, span_name: str) -> dict:
    watchdog = threading.Timer(RUN_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
    cpu0 = tree.cpu_seconds()
    rss.reset()
    result, errors = None, []
    watchdog.start()
    t0 = time.perf_counter()
    try:
        with tracer.span(span_name) as span:
            result = wl.run(spark)
    except Exception as exc:  # a failed run is counted, not fatal
        traceback.print_exc()
        errors.append(f"{type(exc).__name__}: {exc}")
    finally:
        wall = time.perf_counter() - t0
        watchdog.cancel()
    cpu1 = tree.cpu_seconds()
    jvm_rss, py_rss = rss.peaks()
    if result is not None:
        try:
            errors += wl.check(result)
        except Exception as exc:
            traceback.print_exc()
            errors.append(f"check raised {type(exc).__name__}: {exc}")
    for e in errors:
        print(f"[perfbench] {wl.name} run failed: {e}", file=sys.stderr)
    return {
        "wall_s": wall,
        "jvm_cpu_s": cpu1[0] - cpu0[0],
        "python_cpu_s": cpu1[1] - cpu0[1],
        "jvm_peak_rss_bytes": jvm_rss,
        "python_peak_rss_bytes": py_rss,
        "errors": errors,
        "result": result,
        "span": span,
        "kind": span_name,
    }


def end_to_end(wl, runs: list[dict], setup_s: float) -> dict:
    """Peak memory is not among these: the JVM's resident size follows
    G1's heap expansions and the workers' follows which of them drew an
    oversized document, both of which vary 3x between processes, so it
    is reported per layer (proc.*_peak_rss_mb)."""
    wall = statistics.median(r["wall_s"] for r in runs)
    return {
        "wall_s": {"value": wall, "unit": "s"},
        "docs_per_s": {"value": wl.n_docs / wall, "unit": "docs/s"},
        "cpu_s": {"value": statistics.median(r["jvm_cpu_s"] + r["python_cpu_s"] for r in runs), "unit": "s"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }


PER_LAYER_UNITS = {
    "session.cores": "count", "session.driver_memory_mb": "MB", "setup.jvm_launch_s": "s",
    "trace.wall_s": "s", "trace.overhead_s": "s", "trace.explained_s": "s", "trace.unexplained_s": "s",
    "core.docs_per_s": "docs/s", "core.pdf_span_us": "us", "core.html_span_us": "us",
    "core.text_span_us": "us", "core.arrow_batch_us_per_doc": "us",
    "pipeline.salt_probe_s": "s", "pipeline.extract_s": "s", "pipeline.per_core_ratio": "ratio",
    "pipeline.py_boot_s": "s", "pipeline.py_init_s": "s", "pipeline.py_run_s": "s",
    "pipeline.py_bytes_sent": "bytes", "pipeline.py_bytes_returned": "bytes", "pipeline.tasks": "count",
    "io.write_s": "s", "io.bytes_per_input_byte": "ratio", "checkpoint.commit_ms": "ms",
    "curate.read_input_s": "s", "curate.extract_s": "s", "curate.quality_gates_s": "s",
    "curate.exact_dedup_s": "s", "curate.near_dup_drop_s": "s", "curate.decon_redact_write_s": "s",
    "dedup.minhash_s": "s", "quality.repetition_s": "s",
    "spark.jobs": "count", "spark.tasks": "count", "spark.failed_tasks": "count",
    "spark.executor_run_s": "s", "spark.jvm_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes", "spark.output_bytes": "bytes",
    "proc.jvm_cpu_s": "s", "proc.python_cpu_s": "s",
    "proc.jvm_peak_rss_mb": "MB", "proc.python_peak_rss_mb": "MB",
}


def per_layer(wl, spark, tree, rss, tracer, cores: int, seed: int) -> tuple[dict, list[dict]]:
    """One traced run of the workload, then each layer on its corpus."""
    import layers
    from probes import SparkStatus, job_group

    status = SparkStatus(spark.sparkContext)
    # runs keep speeding up after the first, so the traced run is set
    # against the untraced runs on either side of it, past the first
    before = one_run(wl, spark, tree, rss, tracer, "run")
    with tracer.patched(layers.trace_targets(wl.name)), job_group(spark.sparkContext, "traced_run"):
        traced = one_run(wl, spark, tree, rss, tracer, "traced_run")
    after = one_run(wl, spark, tree, rss, tracer, "run")
    m = {f"spark.{k}": v for k, v in status.group_totals("traced_run").items()}
    m["proc.jvm_cpu_s"] = traced["jvm_cpu_s"]
    m["proc.python_cpu_s"] = traced["python_cpu_s"]
    m["proc.jvm_peak_rss_mb"] = traced["jvm_peak_rss_bytes"] / 1e6
    m["proc.python_peak_rss_mb"] = traced["python_peak_rss_bytes"] / 1e6
    m["trace.wall_s"] = traced["wall_s"]
    m["trace.overhead_s"] = traced["wall_s"] - (before["wall_s"] + after["wall_s"]) / 2

    with tracer.span("layer.core"):
        m.update(layers.core_layer(wl.corpus))
    nparts = 3 * cores
    with tracer.span("layer.pipeline"):
        pipe, mode = layers.pipeline_layer(spark, status, wl.corpus, wl.n_docs, nparts, cores, m["core.docs_per_s"])
    m.update(pipe)
    with tracer.span("layer.io_operators"):
        m.update(layers.io_and_operator_layers(spark, status, wl.corpus, wl.n_docs, wl.work, nparts, mode))
    if wl.name == "curate_funnel":
        m.update(layers.curate_metrics(traced["result"]["funnel"]))
        explained = sum(s["wall_s"] for s in traced["result"]["funnel"]["stages"])
    else:
        with tracer.span("layer.curate"):
            m.update(layers.curate_layer(spark, ROOT, wl.work, wl.corpus, seed))
        commits = tracer.total("checkpoint.commit", within=traced["span"])
        explained = m["pipeline.salt_probe_s"] + m["pipeline.extract_s"] + m["io.write_s"] + commits
    m["trace.explained_s"] = explained
    m["trace.unexplained_s"] = traced["wall_s"] - explained
    tracer.notes["python_node_metrics"] = status.raw
    return m, [before, traced, after]


def run_workload(args) -> int:
    from workloads import WORKLOADS

    cores, driver_mb = host_session(WORKLOADS[args.workload].cores_per_slot)
    from pyspark import SparkContext

    from probes import ProcessTree, RssSampler, Tracer

    work = os.path.join(STATE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tracer = Tracer()
    wl = WORKLOADS[args.workload](ROOT, work, os.path.join(STATE, "cache"), args.seed, cores)
    with tracer.span("prepare_inputs"):
        wl.prepare()

    setups = []
    spark = None
    try:
        for _ in range(1 + WARM_SETUPS):
            if spark is not None:
                spark.stop()
                spark = None
            with tracer.span("setup") as span:
                spark = new_session(cores)
            setups.append(tracer.duration(span))
        tree = ProcessTree(SparkContext._gateway.proc.pid)
        with RssSampler(tree) as rss:
            # a traced invocation reports no end-to-end metric: one run
            # after the warm-up leads into the traced sequence
            seconds = 0 if args.trace else args.seconds
            warmup, runs = timed_runs(wl, spark, seconds, tree, rss, tracer)
            if args.trace:
                metrics, extra_runs = per_layer(wl, spark, tree, rss, tracer, cores, args.seed)
                metrics.update(
                    {"session.cores": cores, "session.driver_memory_mb": driver_mb, "setup.jvm_launch_s": setups[0]}
                )
                metrics = {k: {"value": metrics[k], "unit": PER_LAYER_UNITS[k]} for k in PER_LAYER_UNITS}
            else:
                metrics, extra_runs = end_to_end(wl, runs, statistics.median(setups[1:])), []
    finally:
        stop_jvm(spark)
    all_runs = warmup + runs + extra_runs
    failed = sum(1 for r in all_runs if r["errors"])
    out = {"correct": failed == 0, "attempted": len(all_runs), "failed": failed, "metrics": metrics}
    tracer.dump(
        os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
        {
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "spark_driver_memory": os.environ["SPARK_DRIVER_MEM"], "n_docs": wl.n_docs,
            "setups_s": setups,
            "runs": [{k: v for k, v in r.items() if k not in ("result", "span")} for r in all_runs],
            "result": out,
            **tracer.notes,
        },
    )
    shutil.rmtree(work, ignore_errors=True)
    print(
        f"[perfbench] {args.workload} seed={args.seed} local[{cores}] "
        f"spark.driver.memory={os.environ['SPARK_DRIVER_MEM']} runs={len(all_runs)} failed={failed}",
        file=sys.stderr,
    )
    for name, m in metrics.items():
        print(f"[perfbench]   {name} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps(out))
    return 0 if failed == 0 else 1


def run_all(args) -> int:
    """Every workload, untraced then traced, each in its own process."""
    from workloads import WORKLOADS

    status = 0
    summary = {}
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
            lines = proc.stdout.strip().splitlines()
            summary[f"{name}/trace{trace}"] = json.loads(lines[-1]) if lines else None
            status = status or proc.returncode or (0 if lines else 1)
    print(json.dumps(summary))
    return status


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=("extract_job", "curate_funnel"))
    ap.add_argument("--all", action="store_true", help="run every workload, untraced and traced")
    ap.add_argument("--seed", type=int, default=None, help="input seed (default: fixtures.SEED)")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.all == bool(args.workload):
        ap.error("give exactly one of --workload or --all")
    sys.path.insert(0, ROOT)
    if args.seed is None:
        from docling_pdf_spark.fixtures import SEED

        args.seed = SEED
    adopt_orphans()
    signal.signal(signal.SIGTERM, _exit_on_signal)
    signal.signal(signal.SIGHUP, _exit_on_signal)
    try:
        return run_all(args) if args.all else run_workload(args)
    finally:
        reap_descendants()


if __name__ == "__main__":
    raise SystemExit(main())
