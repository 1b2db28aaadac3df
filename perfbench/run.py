#!/usr/bin/env python3
"""Benchmark entry point: build the inputs, run one workload, report.

Usage, from the repository root::

    python3 perfbench/run.py --workload tpch_x10 --seed 1 --seconds 8 --trace 0

The first call in a checkout generates the dataset under
``.bench_build/perfbench`` (deterministic, reused while its manifest
matches); the measured run caches the DuckDB oracle results there.  The
measured run happens in a fresh child process (``perfbench/measure.py``)
whose environment puts the repository on the Python workers'
``PYTHONPATH`` and keeps every file Spark writes (scratch, event log,
temp files) inside the checkout.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  Every line
before it is for people: each metric by name and unit, the per-pass
times (warm-up shown, not assumed) and the run's conditions.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

T_LAUNCH = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import datagen, procstat  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

#: whole-run limit for the measuring child, in seconds
CHILD_TIMEOUT_S = 165
#: driver heap of the measured session (kept small; the inputs are ~100 MB)
DRIVER_MEM = "3g"


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def build(repo: str, wl) -> tuple[str, str]:
    """Dataset for ``wl``; returns (data directory, manifest digest).

    Oracle results are cached by the measured run itself, the first time
    it checks a query (outside every timed window)."""
    data = os.path.join(repo, ".bench_build", "perfbench", "data", wl.layout)
    return data, datagen.manifest_digest(datagen.ensure_dataset(data, wl.layout))


def scratch_fs(path: str) -> str:
    """Mount point and filesystem type holding ``path``."""
    best = ("/", "?")
    path = os.path.realpath(path)
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt, fstype = parts[1], parts[2]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best[0]):
                best = (mnt, fstype)
    return f"{best[0]} ({best[1]})"


def child_env(repo: str, work: str, trace: bool) -> dict:
    env = dict(os.environ)
    for d in ("scratch", "local", "tmp", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cpus = str(os.cpu_count() or 1)
    try:
        cpus = str(len(os.sched_getaffinity(0)))
    except AttributeError:
        pass
    conf = ["--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if trace:
        conf += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false",
                 "--conf", f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}"]
    pythonpath = [repo] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    env.update({
        # the Python workers import kmr_spark (and, for traced functions
        # shipped to them, perfbench) from the repository
        "PYTHONPATH": os.pathsep.join(pythonpath),
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_SCRATCH": os.path.join(work, "scratch"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONHASHSEED": "0",
        # every JVM, the spark-submit launcher's too: temp files in the
        # checkout, no hsperfdata files under the system temp directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(c) for c in conf) + " pyspark-shell",
    })
    for leaked in ("KMR_RMAT_EDGES", "KMR_RMAT_LEVELS", "KMR_RMAT_MIX", "KMR_RMAT_SWEEP",
                   "SPARK_GRAFT_NO_LOCAL_MASTER", "SPARK_GRAFT_SF_DIR"):
        env.pop(leaked, None)
    return env


def _group_alive(pgid: int) -> bool:
    """Whether any non-zombie process is left in process group ``pgid``."""
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def stop_group(pgid: int) -> None:
    """Terminate every process of the child's session and wait for it."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + grace
        while time.time() < deadline and _group_alive(pgid):
            time.sleep(0.1)


def print_human(res: dict, wl, args, conditions: dict) -> None:
    v = res["values"]
    print(f"workload {wl.name}: {len(wl.queries)} queries, closed loop, 1 client, seed {args.seed}")
    for k, val in conditions.items():
        print(f"  {k}: {val}")
    print("  phases ended at (s from launch): "
          + ", ".join(f"{k} {t:.1f}" for k, t in res["phases"].items()))
    for p in res["passes"]:
        tag = "" if not args.trace else (" traced" if p["modules"] else " untraced")
        print(f"  pass {p['index']} {p['kind']}{tag}: {p['pass_s']:.3f} s, cpu {p['cpu_s']:.2f} s, "
              f"jit {p['jit_s']:.2f} s, steal {p['steal_s']:.2f} s")
    for name, (unit, _better, _bound) in END_TO_END.items():
        print(f"  {name} = {v[name]:.4f} {unit}")
    print(f"  failed_frac = {v['failed_frac']:.4f} ratio ({len(res['failures'])} of {res['attempted']})")
    for f in res["failures"]:
        print(f"  FAILED {f['query']} (pass {f['pass']}): {f['error']}")
    if args.trace:
        for name, (unit, _better) in PER_LAYER.items():
            print(f"  {name} = {v[name]:.6g} {unit}")
        for k, val in res.get("checks", {}).items():
            print(f"  check {k}: {val}")


def _exit_on_signal(signum, _frame):
    raise SystemExit(128 + signum)


def main() -> int:
    signal.signal(signal.SIGTERM, _exit_on_signal)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    repo = os.getcwd()
    if not (os.path.isfile(os.path.join(repo, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(repo, "kmr_spark"))):
        return fail(f"no engine sources (__spark_entry__.py, kmr_spark/) in {repo}; "
                    "run from the repository root")
    wl = WORKLOADS.get(args.workload)
    if wl is None:
        return fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    try:
        data, digest = build(repo, wl)
    except Exception as exc:
        return fail(f"building inputs failed: {type(exc).__name__}: {exc}")

    base = os.path.join(repo, ".bench_build", "perfbench")
    work = os.path.join(base, "work", f"{wl.name}-{args.seed}-{os.getpid()}")
    results = os.path.join(base, "results")
    cache = os.path.join(base, "oracle")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    env = child_env(repo, work, bool(args.trace))
    steal0 = procstat.steal_seconds()
    conditions = {
        "nproc": env["SPARK_GRAFT_CPUS"],
        "load_average_start": f"{procstat.load_average():.2f}",
        "host_speed_start": f"{procstat.loop_rate():.1f} M loop iterations/s",
        "scratch_fs": scratch_fs(env["SPARK_GRAFT_SCRATCH"]),
        "build_s": f"{time.time() - T_LAUNCH:.1f}",
    }
    cmd = [sys.executable, "-m", "perfbench.measure", "--workload", wl.name,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--data", data, "--oracle", cache,
           "--manifest", digest, "--eventlog", os.path.join(work, "eventlog"), "--out", out]
    env["PERFBENCH_T0"] = repr(time.time())
    log_path = os.path.join(results, f"{wl.name}-seed{args.seed}-trace{args.trace}.log")
    if os.path.exists(out):
        os.remove(out)
    with open(log_path, "w") as log:
        child = subprocess.Popen(cmd, cwd=repo, env=env, stdout=log, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL, start_new_session=True)
        code = None
        try:
            code = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            # also on SIGTERM/SIGINT: the child leads its own session,
            # which holds the JVM and the Python workers
            stop_group(child.pid)
            child.wait()
    conditions["load_average_end"] = f"{procstat.load_average():.2f}"
    conditions["cpu_steal_s"] = f"{procstat.steal_seconds() - steal0:.2f}"
    conditions["host_speed_end"] = f"{procstat.loop_rate():.1f} M loop iterations/s"
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.readlines()[-40:]
        sys.stderr.writelines(tail)
        return fail(f"measured run {'timed out' if code is None else f'exited with {code}'}; "
                    f"log: {log_path}")
    with open(out) as f:
        res = json.load(f)
    print_human(res, wl, args, conditions)
    checks = res.get("checks", {})
    correct = (not res["failures"] and not checks.get("unattributed_jobs")
               and not checks.get("unattributed_batches")
               and not checks.get("span_tree_error")
               and not checks.get("status_tracker_mismatches")
               and checks.get("executor_cpu_le_cpu", True))
    print(json.dumps({"correct": bool(correct), "attempted": res["attempted"],
                      "failed": len(res["failures"]), "metrics": res["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
