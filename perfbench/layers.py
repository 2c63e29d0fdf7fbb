"""Per-layer metrics of the traced run.

Every name in ``PER_LAYER`` is reported on every workload; a layer the
workload does not exercise reads 0 (that phase did no work there).
``TARGETS`` records, per metric prefix, the end-to-end metric and
workload it should move.
"""

from __future__ import annotations

import spans as tr
from workloads import CURATE_QUERIES, SERVE_TYPES, median

PHASES = ("serve", "maintain", "curate", "probe")
STREAMS = ("postings", "positional", "ivf")
DRIVER_OPS = ("bm25", "phrase", "ann", "ingest", "delete", "compact")
PROBE_STEPS = ("operators.vad_split_segments_s", "operators.snr_from_wav_s", "operators.classify_segments_s", "plans.quality_records_s")


def _names() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric."""
    out = [("session.start_s", "s", "lower")]
    for t in SERVE_TYPES:
        out += [
            (f"layout.{t}.call_ms", "ms", "lower"),
            (f"layout.{t}.collect_ms", "ms", "lower"),
            (f"layout.{t}.jobs", "count", "lower"),
            (f"layout.{t}.files_read", "count", "lower"),
        ]
    out += [(f"layout.build.{s}_s", "s", "lower") for s in STREAMS]
    out += [
        ("layout.delete.call_ms", "ms", "lower"),
        ("layout.delete.jobs", "count", "lower"),
        ("layout.compact.call_ms", "ms", "lower"),
        ("layout.compact.jobs", "count", "lower"),
        ("layout.compact.bytes_rewritten", "bytes", "lower"),
        ("layout.bytes_written_per_input_byte", "ratio", "lower"),
        ("layout.store_bytes_per_input_byte", "ratio", "lower"),
        ("layout.store_files", "count", "lower"),
        ("layout.tombstone_rows", "count", "lower"),
        ("layout.uncompacted_batches", "count", "lower"),
    ]
    for m in STREAMS:
        out += [
            (f"streaming.{m}.batch_ms", "ms", "lower"),
            (f"streaming.{m}.add_batch_ms", "ms", "lower"),
            (f"streaming.{m}.jobs_per_batch", "count", "lower"),
        ]
    for q in CURATE_QUERIES:
        out += [
            (f"queries.{q}.call_ms", "ms", "lower"),
            (f"queries.{q}.collect_ms", "ms", "lower"),
            (f"queries.{q}.jobs", "count", "lower"),
            (f"queries.{q}.shuffle_bytes", "bytes", "lower"),
        ]
    for layer in ("functions", "operators"):
        out += [
            (f"{layer}.python_cpu_s", "s", "lower"),
            (f"{layer}.arrow_bytes_to_python", "bytes", "lower"),
            (f"{layer}.arrow_bytes_from_python", "bytes", "lower"),
        ]
    out += [(n, "s", "lower") for n in PROBE_STEPS]
    out += [("plans.segments_kept_ratio", "ratio", "higher")]
    out += [(f"driver.{o}.self_ms", "ms", "lower") for o in DRIVER_OPS]
    for t in SERVE_TYPES:
        out += [(f"catalyst.{t}.{p}_ms", "ms", "lower") for p in ("analysis", "optimization", "planning")]
    for p in PHASES:
        out += [
            (f"spark.{p}.jobs_per_op", "count", "lower"),
            (f"spark.{p}.tasks_per_op", "count", "lower"),
            (f"spark.{p}.executor_cpu_s", "s", "lower"),
            (f"spark.{p}.gc_s", "s", "lower"),
            (f"spark.{p}.shuffle_bytes", "bytes", "lower"),
            (f"spark.{p}.input_bytes", "bytes", "lower"),
        ]
    out += [("spark.untagged_jobs", "count", "lower"), ("trace.latency_gm_p50_ms", "ms", "lower")]
    return out


PER_LAYER = _names()

# metric prefix -> (end-to-end metric it should move, workload)
TARGETS = {
    "session.": ("setup_s", "all"),
    "layout.build.": ("setup_s", "serve_maintain"),
    "layout.bm25.": ("latency_gm_p50_ms", "serve_maintain"),
    "layout.phrase.": ("latency_gm_p50_ms", "serve_maintain"),
    "layout.ann.": ("latency_gm_p50_ms", "serve_maintain"),
    "layout.delete.": ("throughput_per_s", "serve_maintain"),
    "layout.compact.": ("throughput_per_s", "serve_maintain"),
    "layout.bytes_written_per_input_byte": ("throughput_per_s", "serve_maintain"),
    "layout.store_bytes_per_input_byte": ("peak_rss_mb", "serve_maintain"),
    "layout.store_files": ("latency_gm_p50_ms", "serve_maintain"),
    "layout.tombstone_rows": ("latency_gm_p50_ms", "serve_maintain"),
    "layout.uncompacted_batches": ("latency_gm_p50_ms", "serve_maintain"),
    "streaming.": ("throughput_per_s", "serve_maintain"),
    "queries.": ("latency_gm_p50_ms", "curate_probe"),
    "functions.": ("latency_gm_p50_ms", "curate_probe"),
    "operators.": ("throughput_per_s", "curate_probe"),
    "plans.": ("throughput_per_s", "curate_probe"),
    "driver.bm25.": ("latency_gm_p50_ms", "serve_maintain"),
    "driver.phrase.": ("latency_gm_p50_ms", "serve_maintain"),
    "driver.ann.": ("latency_gm_p50_ms", "serve_maintain"),
    "driver.": ("throughput_per_s", "serve_maintain"),
    "catalyst.": ("latency_gm_p50_ms", "serve_maintain"),
    "spark.serve.": ("latency_gm_p50_ms", "serve_maintain"),
    "spark.maintain.": ("throughput_per_s", "serve_maintain"),
    "spark.curate.": ("latency_gm_p50_ms", "curate_probe"),
    "spark.probe.": ("throughput_per_s", "curate_probe"),
    "spark.untagged_jobs": ("none", "all"),
    "trace.": ("tracing overhead: minus latency_gm_p50_ms of an untraced run", "all"),
}


def target(name: str) -> tuple[str, str]:
    best = max((p for p in TARGETS if name.startswith(p)), key=len)
    return TARGETS[best]


class PhaseCpu:
    """Python-worker CPU seconds per phase, from /proc snapshots taken
    whenever the phase changes."""

    def __init__(self, jvm_pid: int):
        self.pid = jvm_pid
        self.phase = None
        self.last = tr.python_cpu_s(jvm_pid)
        self.by_phase: dict[str, float] = {}

    def mark(self, phase) -> None:
        now = tr.python_cpu_s(self.pid)
        if self.phase is not None:
            self.by_phase[self.phase] = self.by_phase.get(self.phase, 0.0) + now - self.last
        self.phase, self.last = phase, now


def _med(xs) -> float:
    return median(list(xs))


def per_layer(t: tr.Tracer, log: tuple, res: dict, session_s: float, cpu: PhaseCpu) -> dict:
    jobs, stages, sql = log
    untagged = tr.attribute(jobs, t.ops())
    c = tr.OpCounters(jobs, stages, sql)
    v: dict[str, float] = {n: 0.0 for n, _u, _b in PER_LAYER}
    v["session.start_s"] = session_s

    for kind in SERVE_TYPES:
        ops = t.ops("serve", kind)
        if not ops:
            continue
        v[f"layout.{kind}.call_ms"] = _med(s.ms for o in ops for s in t.calls(o, "call"))
        v[f"layout.{kind}.collect_ms"] = _med(s.ms for o in ops for s in t.calls(o, "collect"))
        v[f"layout.{kind}.jobs"] = _med(c.n_jobs(o) for o in ops)
        v[f"driver.{kind}.self_ms"] = _med(c.self_ms(o) for o in ops)
        for p in ("analysis", "optimization", "planning"):
            v[f"catalyst.{kind}.{p}_ms"] = _med(o.attrs.get("catalyst", {}).get(p, 0.0) for o in ops)
        # files listed per request, before and after the maintenance cycles
        v[f"layout.{kind}.files_read"] = _med(
            c.driver_metric(o, tr.FILES_READ) for o in ops + t.ops("probe", kind)
        )

    for name, sec in res.get("build_s", {}).items():
        v[f"layout.build.{name}_s"] = sec
    for kind in ("delete", "compact"):
        ops = t.ops("maintain", kind)
        if ops:
            v[f"layout.{kind}.call_ms"] = _med(o.ms for o in ops)
            v[f"layout.{kind}.jobs"] = _med(c.n_jobs(o) for o in ops)
    for kind in ("ingest", "delete", "compact"):
        ops = t.ops("maintain", kind)
        if ops:
            v[f"driver.{kind}.self_ms"] = _med(c.self_ms(o) for o in ops)
    compacts = t.ops("maintain", "compact")
    if compacts:
        v["layout.compact.bytes_rewritten"] = _med(o.attrs.get("bytes", 0) for o in compacts)
    maint = t.ops("maintain")
    if maint:
        written = sum(c.acc(o, "internal.metrics.output.bytesWritten") for o in maint)
        v["layout.bytes_written_per_input_byte"] = written / max(res.get("maint_input_bytes", 1), 1)
        v["layout.store_bytes_per_input_byte"] = res["store_bytes"] / max(res["input_bytes"], 1)
    health = res.get("health") or []
    for k in ("store_files", "tombstone_rows", "uncompacted_batches"):
        if health:
            v[f"layout.{k}"] = sum(h[k] for h in health) / len(health)
    durs = res.get("progress", [])
    if durs:
        v["streaming.postings.batch_ms"] = _med(d.get("triggerExecution", 0) for d in durs)
        v["streaming.postings.add_batch_ms"] = _med(d.get("addBatch", 0) for d in durs)
        calls = [s for o in t.ops("maintain", "ingest") for s in t.calls(o, "streaming.postings")]
        v["streaming.postings.jobs_per_batch"] = sum(len(c.jobs_in(s.start, s.end)) for s in calls) / len(durs)

    for q in CURATE_QUERIES:
        ops = t.ops("curate", q)
        if not ops:
            continue
        v[f"queries.{q}.call_ms"] = _med(s.ms for o in ops for s in t.calls(o, "call"))
        v[f"queries.{q}.collect_ms"] = _med(s.ms for o in ops for s in t.calls(o, "collect"))
        v[f"queries.{q}.jobs"] = _med(c.n_jobs(o) for o in ops)
        v[f"queries.{q}.shuffle_bytes"] = _med(c.acc(o, "internal.metrics.shuffle.write.bytesWritten") for o in ops)
    for layer, phase, unit_ops in (
        ("functions", "curate", res.get("samples", {}).get("curate_passes", 0)),
        ("operators", "probe", res.get("samples", {}).get("probe_runs", 0)),
    ):
        ops = t.ops(phase)
        if not ops or not unit_ops:
            continue
        v[f"{layer}.python_cpu_s"] = cpu.by_phase.get(phase, 0.0) / unit_ops
        v[f"{layer}.arrow_bytes_to_python"] = sum(c.acc(o, tr.PY_SENT) for o in ops) / unit_ops
        v[f"{layer}.arrow_bytes_from_python"] = sum(c.acc(o, tr.PY_RECV) for o in ops) / unit_ops
    for name, sec in res.get("probe_steps", {}).items():
        v[name] = sec
    if "segments_kept_ratio" in res:
        v["plans.segments_kept_ratio"] = res["segments_kept_ratio"]

    for p in PHASES:
        ops = t.ops(p)
        if not ops:
            continue
        n = len(ops)
        v[f"spark.{p}.jobs_per_op"] = sum(c.n_jobs(o) for o in ops) / n
        v[f"spark.{p}.tasks_per_op"] = sum(c.n_tasks(o) for o in ops) / n
        v[f"spark.{p}.executor_cpu_s"] = sum(c.acc(o, "internal.metrics.executorCpuTime") for o in ops) / 1e9 / n
        v[f"spark.{p}.gc_s"] = sum(c.acc(o, "internal.metrics.jvmGCTime") for o in ops) / 1e3 / n
        v[f"spark.{p}.shuffle_bytes"] = sum(c.acc(o, "internal.metrics.shuffle.write.bytesWritten") for o in ops) / n
        v[f"spark.{p}.input_bytes"] = sum(c.acc(o, "internal.metrics.input.bytesRead") for o in ops) / n
    v["spark.untagged_jobs"] = untagged
    v["trace.latency_gm_p50_ms"] = res["e2e"]["latency_gm_p50_ms"][0]
    units = {n: u for n, u, _b in PER_LAYER}
    return {n: {"value": float(x), "unit": units[n]} for n, x in v.items()}, op_counters(t, c)


def op_counters(t: tr.Tracer, c: tr.OpCounters) -> dict:
    """Median deterministic counters per (phase, op name): what the
    counter-diff report compares between two traced runs."""
    groups: dict[str, list] = {}
    for o in t.ops():
        groups.setdefault(f"{o.phase}.{o.name}", []).append(o)
    return {
        key: {
            "n": len(ops),
            "jobs": _med(c.n_jobs(o) for o in ops),
            "stages": _med(c.n_stages(o) for o in ops),
            "tasks": _med(c.n_tasks(o) for o in ops),
            "files_read": _med(c.driver_metric(o, tr.FILES_READ) for o in ops),
            "shuffle_bytes": _med(c.acc(o, "internal.metrics.shuffle.write.bytesWritten") for o in ops),
        }
        for key, ops in sorted(groups.items())
    }
