"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_maintain --seed 1 --seconds 20 --trace 0

Generates the workload's inputs from ``--seed`` (outside the timed
region), starts one Spark session on ``local[$SPARK_GRAFT_CPUS]`` (all
cores by default), runs the workload with one closed-loop client, checks
every output against a single-process reference, and prints one JSON
line: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` enables the Spark event log
and reports the per-layer metrics instead. A fuller record of the run
(spans, counters, sample counts, versions, input hash) is written to
``.perfbench_out/results/<workload>-<seed>-trace<0|1>.json``.

A failed check is counted in ``failed`` and makes the exit code 1; when
the engine cannot be imported the command exits with 2 and prints no
result.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("serve_maintain", "curate_probe")


def _env_stamp(spark, seed: int) -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    import pyspark

    return {
        "seed": seed,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "defaultParallelism": spark.sparkContext.defaultParallelism,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": commit,
    }


def _adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts, so the
    pyspark daemon and its workers are re-parented here, not to init, when
    the JVM that forked them exits (Linux ``PR_SET_CHILD_SUBREAPER``)."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def stop_processes(timeout: float = 60.0) -> None:
    """Stop the Spark JVM and every process left under this one, and wait
    until each has ended. ``SparkSession.stop`` leaves the gateway JVM
    running until this process exits; it is ended here so that nothing
    outlives the run."""
    from pyspark import SparkContext
    from spans import child_pids

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
    if proc is not None:
        # the gateway server exits when its stdin closes
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=timeout / 2)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout / 2
    sig = signal.SIGTERM
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                break
        kids = child_pids(os.getpid())
        if not kids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    # the engine is imported from the checkout; without it there is
    # nothing to measure
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    try:
        import se_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {root}: {e}", file=sys.stderr)
        return 2

    out_dir = os.path.join(root, ".perfbench_out")
    work = os.path.join(out_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Spark, Python workers and temp files stay inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join([root, HERE, os.environ.get("PYTHONPATH", "")])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # no JVM perf-data files in the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    _adopt_orphans()
    try:
        return _run(args, root, out_dir, work, tmp)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)


def _run(args, root: str, out_dir: str, work: str, tmp: str) -> int:
    import gen
    import layers
    import spans as tr
    import workloads as W

    from se_data_pipeline_spark.session import get_spark

    conf = {
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        # the heap is committed and touched at start, so peak RSS measures
        # off-heap and Python memory rather than when the GC last ran
        "spark.driver.extraJavaOptions": (
            f"-Xms1g -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            }
        )

    t0, ticks = time.time(), tr.cpu_ticks()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    try:
        session_raw = time.time() - t0
        session_s = session_raw * (1.0 - tr.steal_share(ticks, tr.cpu_ticks()))
        stamp = _env_stamp(spark, args.seed)
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        t = tr.Tracer(spark, enabled=bool(args.trace))
        run = W.serve_maintain if args.workload == "serve_maintain" else W.curate_probe
        cpu = layers.PhaseCpu(jvm_pid)
        t.on_phase = cpu.mark
        res = run(spark, t, args.seconds, args.seed, work, bool(args.trace))
        cpu.mark(None)
        rss = {"jvm": tr.vm_hwm_mb(jvm_pid), "python": tr.vm_hwm_mb("self")}
    finally:
        spark.stop()
    rss_mb = rss["jvm"] + rss["python"]
    res["samples"]["peak_rss_mb"] = rss
    input_dir = os.path.join(work, "in") if args.workload == "serve_maintain" else os.path.join(work, "curate")
    stamp["input_bytes"] = gen.dir_bytes(input_dir)
    stamp["input_sha256"] = gen.content_hash(input_dir)
    setup_s = session_s + res["e2e"]["setup_s"][0]
    res["raw"]["setup_s"] += session_raw

    fail = res["fail"]
    e2e = dict(res["e2e"], setup_s=(setup_s, "s"), peak_rss_mb=(rss_mb, "MB"))
    if args.trace:
        metrics, counters = layers.per_layer(t, tr.read_event_log(log_dir), res, session_s, cpu)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        counters = {}

    record = {
        "workload": args.workload,
        "trace": args.trace,
        "env": stamp,
        "samples": res["samples"],
        "raw_wall": dict(res["raw"], peak_rss_mb=rss_mb),
        "spans": [
            {"name": sp.name, "phase": sp.phase, "op": sp.op, "parent": sp.parent, "ms": round(sp.ms, 3)}
            for sp in t.spans
        ],
        "end_to_end": {k: v for k, (v, _u) in e2e.items()},
        "metrics": metrics,
        "op_counters": counters,
        "failed_checks": fail.failed,
    }
    os.makedirs(os.path.join(out_dir, "results"), exist_ok=True)
    with open(os.path.join(out_dir, "results", f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    for f in fail.failed:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": not fail.failed,
                "attempted": fail.attempted,
                "failed": len(fail.failed),
                "metrics": metrics,
            }
        )
    )
    return 1 if fail.failed else 0


if __name__ == "__main__":
    sys.exit(main())
