"""Parser for Spark's uncompressed JSON event log.

Reads the jobs, stages, tasks and streaming progress events of one or
more application logs.  Job and stage ids restart with every
SparkContext, so every id is qualified by the index of its log file.
All times are epoch seconds.
"""

from __future__ import annotations

import json
import os

PYTHON_ACCUMULABLES = {
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_received_bytes",
}
PROGRESS_EVENT = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


def _num(v) -> int:
    try:
        return int(float(v))
    except (TypeError, ValueError):
        return 0


def _task(app: int, e: dict) -> dict:
    info, m = e["Task Info"], e.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    launch, finish = info["Launch Time"] / 1000, info["Finish Time"] / 1000
    getting = info.get("Getting Result Time") or 0
    t = {
        "stage": (app, e["Stage ID"]),
        "launch": launch, "finish": finish,
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "deserialize_ms": m.get("Executor Deserialize Time", 0),
        "result_ser_ms": m.get("Result Serialization Time", 0),
        "getting_result_ms": (info["Finish Time"] - getting) if getting else 0,
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_write_ns": sw.get("Shuffle Write Time", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
        "memory_spill_bytes": m.get("Memory Bytes Spilled", 0),
        "disk_spill_bytes": m.get("Disk Bytes Spilled", 0),
        "input_bytes": inp.get("Bytes Read", 0),
        "input_rows": inp.get("Records Read", 0),
    }
    for key in PYTHON_ACCUMULABLES.values():
        t[key] = 0
    for acc in info.get("Accumulables") or ():
        key = PYTHON_ACCUMULABLES.get(acc.get("Name"))
        if key:
            t[key] += _num(acc.get("Update"))
    return t


def scheduler_delay_ms(t: dict) -> float:
    """Spark UI definition: task wall time not spent deserializing,
    running, serializing or fetching the result."""
    wall = (t["finish"] - t["launch"]) * 1000
    return max(0.0, wall - t["run_ms"] - t["deserialize_ms"]
               - t["result_ser_ms"] - t["getting_result_ms"])


def parse(paths: list[str]) -> dict:
    """Jobs, stages, tasks and progress events from the given log files."""
    jobs, stages, tasks, progress = {}, {}, [], []
    for app, path in enumerate(sorted(paths)):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                try:
                    e = json.loads(line)
                except ValueError:
                    continue  # a torn last line of a log still being written
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[(app, e["Job ID"])] = {
                        "id": (app, e["Job ID"]),
                        "submit": e["Submission Time"] / 1000, "end": None,
                        "group": props.get("spark.jobGroup.id"),
                        "stages": [(app, s) for s in e.get("Stage IDs", ())]}
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get((app, e["Job ID"]))
                    if job is not None:
                        job["end"] = e["Completion Time"] / 1000
                elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
                    si = e["Stage Info"]
                    st = stages.setdefault((app, si["Stage ID"]), {
                        "id": (app, si["Stage ID"]), "tasks": si.get("Number of Tasks", 0),
                        "submit": None, "end": None})
                    if si.get("Submission Time"):
                        st["submit"] = si["Submission Time"] / 1000
                    if si.get("Completion Time"):
                        st["end"] = si["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(_task(app, e))
                elif kind == PROGRESS_EVENT:
                    progress.append(e["progress"])
    # a stage listed by several jobs runs in the first; later ones skip it
    for job in sorted(jobs.values(), key=lambda j: j["id"]):
        for sid in job["stages"]:
            st = stages.get(sid)
            if st is not None and st["submit"] is not None and "job" not in st:
                st["job"] = job["id"]
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "progress": progress}


def log_files(directory: str) -> list[str]:
    return sorted(os.path.join(directory, f) for f in os.listdir(directory)
                  if not f.startswith("."))
