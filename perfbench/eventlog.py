"""Summarise a Spark event log per stage, labelled by job group.

    python3 perfbench/eventlog.py <event log file or eventlog_v2_* dir>

Prints one JSON object: the jobs (group, description, SQL execution,
start/end) and, per stage, wall time, executor run and CPU time, GC,
Python worker run/init/start time, bytes sent to and returned from
Python, shuffle bytes, input records/bytes and output bytes. Reads
uncompressed logs, and .zst logs through the `zstd` CLI.
"""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys

# stage accumulable name -> (summary key, scale to seconds or 1)
_STAGE_METRICS = {
    "internal.metrics.executorRunTime": ("run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "time to run Python workers": ("python_run_s", 1e-3),
    "time to initialize Python workers": ("python_init_s", 1e-3),
    "time to start Python workers": ("python_start_s", 1e-3),
    "data sent to Python workers": ("bytes_to_python", 1),
    "data returned from Python workers": ("bytes_from_python", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.input.recordsRead": ("input_records", 1),
    "internal.metrics.input.bytesRead": ("input_bytes", 1),
    "internal.metrics.output.bytesWritten": ("output_bytes", 1),
}
METRIC_KEYS = sorted({k for k, _ in _STAGE_METRICS.values()})


def _log_files(path: pathlib.Path) -> list[pathlib.Path]:
    if path.is_file():
        return [path]
    found = sorted(p for p in path.rglob("events_*") if p.is_file())
    return found or sorted(p for p in path.rglob("*") if p.is_file()
                           and not p.name.startswith((".", "appstatus")))


def read_events(path: pathlib.Path):
    for f in _log_files(pathlib.Path(path)):
        if f.suffix == ".zst":
            text = subprocess.run(["zstd", "-dc", str(f)], check=True,
                                  capture_output=True, text=True).stdout
        else:
            text = f.read_text()
        for line in text.splitlines():
            if line:
                yield json.loads(line)


def summarise(events) -> dict:
    jobs, stages, executions = {}, {}, {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "description": props.get("spark.job.description"),
                "execution": props.get("spark.sql.execution.id"),
                "stages": e["Stage IDs"],
                "start_ms": e["Submission Time"],
            }
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end_ms"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = {k: 0.0 for k in METRIC_KEYS}
            for acc in info.get("Accumulables", []):
                key = _STAGE_METRICS.get(acc["Name"])
                if key is not None:
                    st[key[0]] += float(acc["Value"]) * key[1]
            st.update(
                name=info["Stage Name"], tasks=info["Number of Tasks"],
                submit_ms=info.get("Submission Time"),
                complete_ms=info.get("Completion Time"),
            )
            st["wall_s"] = ((st["complete_ms"] - st["submit_ms"]) / 1e3
                            if st["submit_ms"] and st["complete_ms"] else 0.0)
            stages[(info["Stage ID"], info["Stage Attempt ID"])] = st
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            executions[str(e["executionId"])] = {"start_ms": e["time"]}
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            executions.setdefault(str(e["executionId"]), {})["end_ms"] = e["time"]
    # label every stage with the job that first ran it
    for job_id in sorted(jobs):
        job = jobs[job_id]
        for (sid, att), st in stages.items():
            if sid in job["stages"] and "job" not in st:
                st.update(job=job_id, group=job["group"],
                          execution=job["execution"])
    return {
        "jobs": jobs,
        "executions": executions,
        "stages": [dict(stage_id=sid, attempt=att, **st)
                   for (sid, att), st in sorted(stages.items())],
    }


def by_group(summary: dict) -> dict[str, dict]:
    """Stage metrics summed per job group."""
    out: dict[str, dict] = {}
    for st in summary["stages"]:
        g = out.setdefault(st.get("group") or "", {k: 0.0 for k in METRIC_KEYS}
                           | {"stages": 0, "wall_s": 0.0})
        for k in METRIC_KEYS + ["wall_s"]:
            g[k] += st[k]
        g["stages"] += 1
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    summary = summarise(read_events(pathlib.Path(argv[0])))
    summary["jobs"] = {str(k): v for k, v in summary["jobs"].items()}
    summary["groups"] = by_group(summary)
    print(json.dumps(summary, indent=1, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
