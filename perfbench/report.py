"""Compare two benchmark run records (``.perfbench_out/results/*.json``).

    python3 perfbench/report.py diff BASE.json NEW.json
        Names every (workload, op) whose jobs, stages, files read or
        shuffle bytes rose between two traced runs; exits 1 if any did.

    python3 perfbench/report.py overhead UNTRACED.json TRACED.json
        Tracing overhead of one workload: the traced run's end-to-end
        figures minus the untraced run's.
"""

from __future__ import annotations

import json
import sys

COUNTERS = ("jobs", "stages", "files_read", "shuffle_bytes")


def _load(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def diff(base: dict, new: dict) -> list[str]:
    rose = []
    wl = new["workload"]
    for op, c in sorted(new["op_counters"].items()):
        b = base["op_counters"].get(op)
        if b is None:
            rose.append(f"{wl} {op}: new op ({', '.join(f'{k}={c[k]:g}' for k in COUNTERS)})")
            continue
        up = [f"{k} {b[k]:g} -> {c[k]:g}" for k in COUNTERS if c[k] > b[k]]
        if up:
            rose.append(f"{wl} {op}: " + ", ".join(up))
    return rose


def overhead(untraced: dict, traced: dict) -> dict:
    return {
        k: {"untraced": v, "traced": traced["end_to_end"][k], "delta": traced["end_to_end"][k] - v}
        for k, v in untraced["end_to_end"].items()
    }


def main(argv: list[str]) -> int:
    if len(argv) != 3 or argv[0] not in ("diff", "overhead"):
        print(__doc__, file=sys.stderr)
        return 2
    a, b = _load(argv[1]), _load(argv[2])
    if a["workload"] != b["workload"]:
        print("records are of different workloads", file=sys.stderr)
        return 2
    if argv[0] == "overhead":
        print(json.dumps({"workload": a["workload"], "overhead": overhead(a, b)}, indent=1))
        return 0
    for k in ("seed", "nproc", "SPARK_GRAFT_CPUS", "defaultParallelism", "pyspark", "java"):
        if a["env"].get(k) != b["env"].get(k):
            print(f"note: {k} differs: {a['env'].get(k)} vs {b['env'].get(k)}")
    rose = diff(a, b)
    for line in rose:
        print(line)
    if not rose:
        print(f"{b['workload']}: no op's jobs, stages, files read or shuffle bytes rose")
    return 1 if rose else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
