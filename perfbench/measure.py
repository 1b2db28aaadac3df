"""One measured run of one workload, in a fresh process.

Started by ``perfbench/run.py``, which has already built the dataset and
set up the environment.  The run:

1. sets up the engine (``get_spark``, ``load_tables``, ``queries()``),
   timed from process start;
2. runs one cold pass, checking every result against its DuckDB oracle
   outside the timed window (computing and caching the oracle result
   the first time a checkout needs it);
3. runs the workload's fixed number of untimed warm-up passes, then
   measured passes for ``--seconds`` (at least ``MIN_MEASURED`` of
   them); the metrics are medians over the measured passes.  Warm-up is
   a pass count, not a time, so a slow run does not measure earlier in
   the JVM's warm-up than a fast one.  Every pass is reported with its
   JIT-compilation time and the CPU time the hypervisor stole meanwhile;
4. sets up the engine ``RESETUPS`` more times, each in a fresh
   SparkContext with the engine's modules imported anew, so ``setup_s``
   is the median of several set-ups (the first one alone also pays the
   JVM launch);
5. writes its metrics (and, when traced, its spans) as JSON.

With ``--trace 1`` the Spark event log is on, every public function of
the engine's modules records a span on the warm passes that have tracing
on (they alternate with passes that have it off, to measure the tracing
overhead), a ``StreamingQueryListener`` collects micro-batch
progress, codegen counters are read through py4j, and ``statusTracker``'s
job ids per job group are checked against the event log.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time

T0 = float(os.environ.get("PERFBENCH_T0", time.time()))

from perfbench import eventlog, oracle, procstat, spans  # noqa: E402
from perfbench.metrics import MODULES, report  # noqa: E402
from perfbench.workloads import WORKLOADS, pass_order  # noqa: E402

MIN_MEASURED = 3
#: traced runs alternate tracing off and on: 4 + 4 measured passes
MIN_MEASURED_TRACED = 8
#: once the minimum is measured, stop adding passes this many seconds
#: after process start, so that a run on a busy host still ends in about
#: a minute
PASS_DEADLINE_S = 56.0
#: set-ups after the first one, each in a fresh SparkContext
RESETUPS = 3


class ProgressLog:
    """StreamingQueryListener sink: micro-batch progress per query span."""

    def __init__(self):
        self.current: int | None = None
        self.events: list[tuple[int | None, dict]] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                log.events.append((log.current, json.loads(event.progress.json)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()


class Run:
    def __init__(self, args):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.trace = bool(args.trace)
        self.rec = spans.Recorder(f"{args.workload}-{args.seed}-{os.getpid()}")
        self.root = self.rec.open("run", "run")
        self.root.start = T0
        self.setups: list[dict] = []
        self.passes: list[dict] = []
        self.failures: list[dict] = []
        self.attempted = 0
        self.progress = ProgressLog()
        self.duck = None  # DuckDB connection, opened only to fill the oracle cache
        self.tracker_mismatches = 0
        self.oracle_sql = None
        #: seconds from process start at which each phase ended
        self.phases: dict[str, float] = {}

    # -- set-up ---------------------------------------------------------
    def setup(self, index: int) -> None:
        start = T0 if index == 0 else time.time()
        s = self.rec.open(f"setup{index}", "setup")
        s.start = start
        parts = {}
        with self.rec.span("session.get_spark", "setup") as g:
            from kmr_spark import session as ks
            self.spark = ks.get_spark("perfbench")
        parts["session.get_spark_s"] = g.duration
        with self.rec.span("session.load_tables", "setup") as g:
            ks.load_tables(self.spark, self.args.data)
        parts["session.load_tables_s"] = g.duration
        with self.rec.span("entry.queries", "setup") as g:
            import __spark_entry__ as entry
            self.queries = entry.queries()
        parts["entry.queries_s"] = g.duration
        self.rec.close(s)
        self.setups.append({"setup_s": s.duration, **parts})

    # -- passes ---------------------------------------------------------
    def run_pass(self, kind: str, modules_on: bool) -> dict:
        index = len(self.passes)
        self.rec.modules_on = modules_on
        sc = self.spark.sparkContext
        before = procstat.sample()
        steal0, jit0 = procstat.steal_seconds(), self.jit_ms()
        p = self.rec.open(f"pass{index}", "pass", phase=kind, modules=modules_on)
        times = {}
        for i, name in enumerate(pass_order(self.wl.queries, self.args.seed, index)):
            group = f"perfbench-{index}-{i}-{name}"
            if self.trace:
                sc.setJobGroup(group, name)
            q = self.rec.open(name, "query", group=group, pass_index=index)
            self.progress.current = q.id
            self.attempted += 1
            df, result, error = None, None, None
            try:
                with self.rec.span("build", "build"):
                    df = self.queries[name](self.spark, self.args.data)
                with self.rec.span("sink", "sink"):
                    if kind == "cold":
                        # the cold pass delivers each result to the driver
                        # (through Arrow) so it can be checked; warm passes
                        # execute into the noop sink
                        result = oracle.spark_rows(df)
                    else:
                        df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # a failed query is counted, not fatal
                first_line = (str(exc).strip().splitlines() or [""])[0]
                error = f"{type(exc).__name__}: {first_line[:300]}"
            finally:
                if self.trace:
                    # progress events of this query's micro-batches are
                    # still queued on the listener bus: deliver them first
                    sc._jsc.sc().listenerBus().waitUntilEmpty()
                    q.attrs["tracker_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
                self.progress.current = None
                self.rec.close(q)
            times[name] = q.duration
            if error is None and kind == "cold":
                if self.trace:
                    sc.setJobGroup(group + "-check", name)
                with self.rec.span(f"check {name}", "check", group=group + "-check"):
                    error = self.check(name, result, dict(df.dtypes))
            if error is not None:
                self.failures.append({"query": name, "pass": index, "error": error})
        self.rec.close(p)
        if self.trace:
            sc.setLocalProperty("spark.jobGroup.id", None)
        after = procstat.sample()
        rec = {"index": index, "kind": kind, "modules": modules_on, "span": p.id,
               "pass_s": sum(times.values()), "queries": times,
               "jit_s": (self.jit_ms() - jit0) / 1000,
               "steal_s": procstat.steal_seconds() - steal0,
               "cpu_s": after["cpu_s"] - before["cpu_s"],
               "worker_cpu_s": after["worker_cpu_s"] - before["worker_cpu_s"],
               "peak_rss_mb": after["peak_rss_mb"]}
        self.passes.append(rec)
        return rec

    def check(self, name: str, result, dtypes: dict) -> str | None:
        try:
            if self.oracle_sql is None:
                import __spark_entry__ as entry
                self.oracle_sql = entry.oracle_sql()
            sql = self.oracle_sql[name]
            if self.duck is None and not oracle.cached(self.args.oracle, sql, self.args.manifest):
                import duckdb
                from perfbench import datagen
                self.duck = duckdb.connect()
                datagen.duckdb_views(self.duck, self.args.data)
            if self.duck is not None:
                oracle.ensure_oracle(self.duck, self.args.oracle, sql, self.args.manifest)
            expected = oracle.load_oracle(self.args.oracle, sql, self.args.manifest)
            return oracle.compare(*result, dtypes, expected)
        except Exception as exc:
            return f"check failed: {type(exc).__name__}: {str(exc)[:300]}"

    def jit_ms(self) -> float:
        """Milliseconds the JVM's JIT compilers have spent so far."""
        return float(self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
                     .getCompilationMXBean().getTotalCompilationTime())

    def codegen(self) -> tuple[int, float]:
        """Compilations so far and their summed time in seconds."""
        h = self.spark.sparkContext._jvm.org.apache.spark.metrics.source \
            .CodegenMetrics.METRIC_COMPILATION_TIME()
        snap = h.getSnapshot()
        count = h.getCount()
        if snap.size() >= count:
            total_ms = sum(snap.getValues())
        else:  # reservoir has started sampling
            total_ms = snap.getMean() * count
        return count, total_ms / 1000

    # -- the run ---------------------------------------------------------
    def execute(self) -> dict:
        self.setup(0)
        if self.trace:
            self.spark.streams.addListener(self.progress.listener())
            spans.activate(self.rec)
            spans.install()
        cg0 = self.codegen() if self.trace else None
        self.run_pass("cold", True)
        cg1 = self.codegen() if self.trace else None
        self.phases["cold"] = time.time() - T0
        for _ in range(self.wl.warmup):
            self.run_pass("warm-up", False)
        self.phases["warm-up"] = time.time() - T0
        measured, start = [], time.time()
        need = MIN_MEASURED_TRACED if self.trace else MIN_MEASURED
        while len(measured) < need or (time.time() - start < self.args.seconds
                                       and time.time() - T0 < PASS_DEADLINE_S):
            # off, on, on, off, ...: a drift that is still going on
            # weighs the same on both sides of the overhead
            measured.append(self.run_pass("measured", self.trace and len(measured) % 4 in (1, 2)))
        self.phases["measured"] = time.time() - T0
        if self.trace:
            spans.uninstall()
            spans.activate(None)
        for index in range(1, RESETUPS + 1):
            self.spark.stop()
            # a fresh SparkContext in the running JVM, with the engine's
            # modules imported anew, so import-time work counts every time
            for name in [m for m in sys.modules if m == "__spark_entry__"
                         or m == "kmr_spark" or m.startswith("kmr_spark.")]:
                del sys.modules[name]
            self.setup(index)
        self.spark.stop()
        self.phases["set-ups"] = time.time() - T0
        self.rec.close(self.root)

        durations = [t for p in measured for t in p["queries"].values()]
        values = {
            "setup_s": statistics.median(s["setup_s"] for s in self.setups),
            "cold_pass_s": self.passes[0]["pass_s"],
            "pass_s": statistics.median(p["pass_s"] for p in measured),
            "query_geomean_s": math.exp(statistics.fmean(math.log(max(t, 1e-6)) for t in durations)),
            "cpu_s": statistics.median(p["cpu_s"] for p in measured),
            # the JVM's heap keeps growing slowly from pass to pass: read
            # the peak after a fixed number of passes, not after however
            # many the host's speed allowed
            "peak_rss_mb": measured[MIN_MEASURED - 1]["peak_rss_mb"],
            "failed_frac": len(self.failures) / self.attempted,
        }
        for key in ("session.get_spark_s", "session.load_tables_s", "entry.queries_s"):
            values[key] = statistics.median(s[key] for s in self.setups)
        if self.trace:
            values.update(self.layers(measured, cg0, cg1))
        return values

    # -- per-layer attribution --------------------------------------------
    def layers(self, measured: list[dict], cg0, cg1) -> dict:
        rec, out = self.rec, {}
        traced = [p for p in measured if p["modules"]]
        plain = [p for p in measured if not p["modules"]]
        n = len(traced)
        out["trace.pass_s"] = statistics.median(p["pass_s"] for p in traced)
        out["trace.overhead_s"] = out["trace.pass_s"] - statistics.median(p["pass_s"] for p in plain)
        out["codegen.compile_count"] = cg1[0] - cg0[0]
        out["codegen.compile_s"] = cg1[1] - cg0[1]

        log = eventlog.parse(eventlog.log_files(self.args.eventlog))
        by_id = {s.id: s for s in rec.spans}
        targets = [s for s in rec.spans if s.kind in ("query", "check", "setup")]
        by_group = {s.attrs["group"]: s for s in targets if "group" in s.attrs}
        passes = [by_id[p["span"]] for p in self.passes]
        job_span, unattributed = {}, 0
        for job in log["jobs"].values():
            owner = by_group.get(job["group"])
            if owner is None:
                # micro-batch jobs run on the stream's own thread, outside
                # the job group: attribute them by submission time
                # (event-log times are truncated to the millisecond)
                hits = [s for s in targets
                        if s.start - 0.001 <= job["submit"] <= s.end]
                owner = max(hits, key=lambda s: s.start) if hits else None
            if owner is None:
                if any(p.start <= job["submit"] <= p.end for p in passes):
                    unattributed += 1
                continue
            end = job["end"] if job["end"] is not None else owner.end
            job_span[job["id"]] = rec.add(f"job {job['id'][1]}", "job", job["submit"], end, owner.id)
        stage_span = {}
        for st in log["stages"].values():
            parent = job_span.get(st.get("job"))
            if parent is not None and st["submit"] is not None:
                stage_span[st["id"]] = rec.add(f"stage {st['id'][1]}", "stage", st["submit"],
                                               st["end"] or parent.end, parent.id,
                                               tasks=st["tasks"])
        task_rows = []
        for t in log["tasks"]:
            parent = stage_span.get(t["stage"])
            if parent is not None:
                rec.add("task", "task", t["launch"], t["finish"], parent.id)
                task_rows.append((parent, t))
        out["spark.unattributed_jobs"] = unattributed
        # statusTracker's per-group job ids must match the event log's
        in_group: dict[int, int] = {}
        for job in log["jobs"].values():
            owner = by_group.get(job["group"])
            if owner is not None:
                in_group[owner.id] = in_group.get(owner.id, 0) + 1
        self.tracker_mismatches = sum(
            1 for s in targets if "tracker_jobs" in s.attrs
            and s.attrs["tracker_jobs"] != in_group.get(s.id, 0))

        traced_ids = {p["span"] for p in traced}
        pass_of: dict[int, int | None] = {}
        for s in rec.spans:  # parents always precede their children
            pass_of[s.id] = s.id if s.kind == "pass" else pass_of.get(s.parent)

        def in_traced(span) -> bool:
            return pass_of.get(span.id) in traced_ids

        queries = [s for s in rec.spans if s.kind == "query" and in_traced(s)]
        qids = {s.id for s in queries}
        jobs = [s for s in job_span.values() if s.parent in qids]
        jids = {s.id for s in jobs}
        stages = [s for s in stage_span.values() if s.parent in jids]
        sids = {s.id for s in stages}
        tasks = [t for parent, t in task_rows if parent.id in sids]
        builds = {s.parent: s for s in rec.spans if s.kind == "build" and s.parent in qids}
        sinks = [s for s in rec.spans if s.kind == "sink" and s.parent in qids]
        build_s = sum(s.duration for s in builds.values())
        sink_s = sum(s.duration for s in sinks)
        eager = sum(1 for j in jobs if j.parent in builds and j.start <= builds[j.parent].end)
        out["plans.build_s"] = build_s / n
        out["plans.sink_s"] = sink_s / n
        out["plans.eager_jobs"] = eager / n
        out["plans.eager_share"] = build_s / (build_s + sink_s) if build_s + sink_s else 0.0
        out["spark.jobs"] = len(jobs) / n
        out["spark.stages"] = len(stages) / n
        out["spark.tasks"] = len(tasks) / n
        out["spark.scheduler_delay_s"] = sum(eventlog.scheduler_delay_ms(t) for t in tasks) / 1000 / n

        def total(key, scale=1.0):
            return sum(t[key] for t in tasks) * scale / n

        out["executor.run_s"] = total("run_ms", 1e-3)
        out["executor.cpu_s"] = total("cpu_ns", 1e-9)
        out["executor.gc_s"] = total("gc_ms", 1e-3)
        out["executor.deserialize_s"] = total("deserialize_ms", 1e-3)
        out["shuffle.write_bytes"] = total("shuffle_write_bytes")
        out["shuffle.read_bytes"] = total("shuffle_read_bytes")
        out["shuffle.fetch_wait_s"] = total("fetch_wait_ms", 1e-3)
        out["shuffle.write_s"] = total("shuffle_write_ns", 1e-9)
        out["spill.memory_bytes"] = total("memory_spill_bytes")
        out["spill.disk_bytes"] = total("disk_spill_bytes")
        out["scan.input_bytes"] = total("input_bytes")
        out["scan.input_rows"] = total("input_rows")
        out["python.boot_s"] = total("python_boot_ms", 1e-3)
        out["python.init_s"] = total("python_init_ms", 1e-3)
        out["python.run_s"] = total("python_run_ms", 1e-3)
        out["python.sent_bytes"] = total("python_sent_bytes")
        out["python.received_bytes"] = total("python_received_bytes")
        out["python.worker_cpu_s"] = sum(p["worker_cpu_s"] for p in traced) / n
        out["trace.cpu_s"] = sum(p["cpu_s"] for p in traced) / n

        # module-call spans: count and self time per module group
        modules = [s for s in rec.spans if s.kind == "module" and in_traced(s)]
        own = spans.self_times(rec.spans, kinds=("module",))
        for m in MODULES:
            group = [s for s in modules if spans.group_of(s.name) == m]
            out[f"{m}.calls"] = len(group) / n
            out[f"{m}.self_s"] = sum(own[s.id] for s in group) / n
        mr = [s for s in modules if s.name == "session.materialize_release"]
        out["session.materialize_release.calls"] = len(mr) / n
        out["session.materialize_release_s"] = sum(s.duration for s in mr) / n

        # streaming progress collected by the listener
        batches = [p for qid, p in self.progress.events if qid in qids]
        out["streaming.unattributed_batches"] = sum(1 for qid, _ in self.progress.events if qid is None)
        dur = lambda b, k: b.get("durationMs", {}).get(k, 0)  # noqa: E731
        ops = lambda b: b.get("stateOperators") or []  # noqa: E731
        out["streaming.batches"] = len(batches) / n
        for key, field in (("trigger_ms", "triggerExecution"), ("add_batch_ms", "addBatch"),
                           ("wal_commit_ms", "walCommit"), ("commit_offsets_ms", "commitOffsets"),
                           ("query_planning_ms", "queryPlanning")):
            out[f"streaming.{key}"] = sum(dur(b, field) for b in batches) / n
        out["streaming.state_commit_ms"] = sum(o.get("commitTimeMs", 0) for b in batches for o in ops(b)) / n
        out["streaming.state_rows"] = sum(o.get("numRowsUpdated", 0) for b in batches for o in ops(b)) / n
        out["streaming.input_rows"] = sum(b.get("numInputRows", 0) for b in batches) / n
        trig = sorted(dur(b, "triggerExecution") for b in batches)
        out["batch_p50_ms"] = _percentile(trig, 50)
        out["batch_p90_ms"] = _percentile(trig, 90)
        out["stream_rows_per_s"] = (out["streaming.input_rows"] * n / (sum(trig) / 1000)) if sum(trig) else 0.0
        return out


def _percentile(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    k = (len(values) - 1) * q / 100
    lo, hi = math.floor(k), math.ceil(k)
    return values[lo] + (values[hi] - values[lo]) * (k - lo)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--oracle", required=True)
    ap.add_argument("--manifest", required=True, help="digest of the input manifest")
    ap.add_argument("--eventlog", default="")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    run = Run(args)
    values = run.execute()
    result = {
        "values": values,
        "attempted": run.attempted,
        "failures": run.failures,
        "passes": [{k: p[k] for k in ("index", "kind", "modules", "pass_s", "cpu_s", "jit_s",
                                      "steal_s", "peak_rss_mb", "queries")}
                   for p in run.passes],
        "setups": run.setups,
        "phases": run.phases,
    }
    if run.trace:
        result["checks"] = {
            "unattributed_jobs": values["spark.unattributed_jobs"],
            "unattributed_batches": values.pop("streaming.unattributed_batches"),
            "executor_cpu_le_cpu": values["executor.cpu_s"] <= values.pop("trace.cpu_s"),
            "span_tree_error": spans.check_tree(run.rec.spans),
            "status_tracker_mismatches": run.tracker_mismatches,
        }
        with open(args.out + ".spans.json", "w") as f:
            json.dump(spans.to_json(run.rec.spans), f)
    result["metrics"] = report(values, run.trace)
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
