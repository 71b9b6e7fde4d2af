"""Per-layer split of a traced run.

Everything here is set from outside the program:

- the Spark event log, switched on before the JVM starts through
  ``PYSPARK_SUBMIT_ARGS`` (``submit_args``), read back after the session
  stops (``EventLog``);
- job groups ``<op>/build`` and ``<op>/execute``, set by the benchmark
  around the two phases of each op;
- a ``StreamingQueryListener`` the benchmark registers (``StreamProbe``);
- wrappers around ``sources.tables.load_table`` at its import sites
  (``TableLoadProbe``).

Jobs are attributed to an op by job group; jobs of another group (a
stream's own run id) fall to the op whose wall interval holds their
submission time.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

MB = 2**20


def submit_args(event_dir: str) -> str:
    return (
        "--conf spark.eventLog.enabled=true "
        "--conf spark.eventLog.compress=false "
        "--conf spark.eventLog.rolling.enabled=false "
        f"--conf spark.eventLog.dir=file://{event_dir}"
    )


@dataclass
class OpSpan:
    """Wall interval (epoch ms) of one timed op and its build/execute split."""

    name: str
    start_ms: float
    build_end_ms: float
    end_ms: float


class TableLoadProbe:
    """Counts and times ``load_table`` calls made during timed ops.

    ``load_table`` is imported by name into several modules, so every
    loaded module attribute bound to it is replaced; ``restore()`` puts
    the original back.
    """

    def __init__(self):
        from kenya_agricultural_regions_weather_etl_pipeline_spark.sources import tables

        self.original = tables.load_table
        self.active = False
        self.calls = 0
        self.seconds = 0.0
        self._patched: list = []
        wrapper = self._wrap(self.original)
        for mod in list(sys.modules.values()):
            if getattr(mod, "load_table", None) is self.original:
                setattr(mod, "load_table", wrapper)
                self._patched.append(mod)

    def _wrap(self, fn):
        def load_table(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                if self.active:
                    self.calls += 1
                    self.seconds += time.perf_counter() - t0

        return load_table

    def restore(self) -> None:
        for mod in self._patched:
            setattr(mod, "load_table", self.original)


class StreamProbe(StreamingQueryListener):
    """Keeps every micro-batch progress report (trigger start in epoch ms)."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        states = p.stateOperators or []
        self.progress.append({
            "ts_ms": ts.timestamp() * 1000.0,
            "rows": p.numInputRows,
            "dur": dict(p.durationMs or {}),
            "state_rows": sum(s.numRowsTotal for s in states),
            "state_mem": sum(s.memoryUsedBytes for s in states),
        })


@dataclass
class _Job:
    group: str
    submit_ms: float
    end_ms: float = 0.0
    stages: list = field(default_factory=list)
    executions: set = field(default_factory=set)


class EventLog:
    """The jobs, stages, task metrics and write metrics of one event log."""

    def __init__(self, path: str):
        self.jobs: dict[int, _Job] = {}
        self.stage_wall_ms: dict[int, float] = {}
        self.stage_scan: dict[int, bool] = {}
        self.stage_tasks: dict[int, dict] = {}
        write_ids: dict[int, str] = {}
        self.exec_writes: dict[int, dict] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = _Job(props.get("spark.jobGroup.id", ""), ev["Submission Time"])
                    job.stages = list(ev.get("Stage IDs", []))
                    if "spark.sql.execution.id" in props:
                        job.executions.add(int(props["spark.sql.execution.id"]))
                    self.jobs[ev["Job ID"]] = job
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    self.stage_wall_ms[sid] = info.get("Completion Time", 0) - info.get(
                        "Submission Time", 0
                    )
                    self.stage_scan[sid] = any(
                        "weather_api" in (r.get("Name", "") + r.get("Scope", ""))
                        or "PythonDataSource" in (r.get("Name", "") + r.get("Scope", ""))
                        for r in info.get("RDD Info", [])
                    )
                elif kind == "SparkListenerTaskEnd":
                    self._add_task(ev)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    _write_metric_ids(ev.get("sparkPlanInfo", {}), write_ids)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in ev.get("accumUpdates", []):
                        metric = write_ids.get(acc_id)
                        if metric:
                            w = self.exec_writes.setdefault(ev["executionId"], {})
                            w[metric] = w.get(metric, 0) + value

    def _add_task(self, ev: dict) -> None:
        m = ev.get("Task Metrics") or {}
        agg = self.stage_tasks.setdefault(ev["Stage ID"], {
            "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_read": 0,
            "shuffle_write": 0, "spill": 0, "input": 0,
        })
        sr = m.get("Shuffle Read Metrics") or {}
        agg["tasks"] += 1
        agg["run_ms"] += m.get("Executor Run Time", 0)
        agg["cpu_ns"] += m.get("Executor CPU Time", 0)
        agg["gc_ms"] += m.get("JVM GC Time", 0)
        agg["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        agg["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        agg["spill"] += m.get("Disk Bytes Spilled", 0)
        agg["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)


_WRITE_METRICS = {"number of written files": "files", "written output": "bytes"}


def _write_metric_ids(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") in _WRITE_METRICS:
            out[m["accumulatorId"]] = _WRITE_METRICS[m["name"]]
    for child in plan.get("children", []):
        _write_metric_ids(child, out)


def find_event_log(event_dir: str) -> str:
    logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {len(logs)}")
    return logs[0]


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _op_of(spans: list[OpSpan], t_ms: float) -> OpSpan | None:
    for sp in spans:
        if sp.start_ms <= t_ms <= sp.end_ms:
            return sp
    return None


def layer_metrics(
    log: EventLog,
    spans: list[OpSpan],
    streams: StreamProbe,
    tables: TableLoadProbe,
) -> dict[str, float]:
    """Engine, sources, operators and streaming metrics as means per timed op."""
    n = len(spans)
    by_name = {}
    for sp in spans:
        by_name.setdefault(sp.name, []).append(sp)
    build_jobs = 0
    jobs_in_op: dict[int, list[_Job]] = {id(sp): [] for sp in spans}
    build_phase: set[int] = set()  # id() of jobs the op's build ran
    for job in log.jobs.values():
        op_name, _, phase = job.group.rpartition("/")
        sp = _op_of(by_name.get(op_name, []), job.submit_ms) if op_name else None
        if sp is None:
            sp = _op_of(spans, job.submit_ms)
            if sp is None:
                continue  # warm-up, checks or hygiene
            phase = "build" if job.submit_ms <= sp.build_end_ms else "execute"
        jobs_in_op[id(sp)].append(job)
        if phase == "build":
            build_jobs += 1
            build_phase.add(id(job))

    tot = {k: 0.0 for k in (
        "jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_read",
        "shuffle_write", "spill", "input", "gap_ms", "scan_stages", "scan_ms",
        "files", "bytes",
    )}
    for sp in spans:
        jobs = jobs_in_op[id(sp)]
        tot["jobs"] += len(jobs)
        executions = set()  # of the build: the execute phase writes the op's output
        seen = set()
        for job in jobs:
            if id(job) in build_phase:
                executions |= job.executions
            for sid in job.stages:
                if sid in seen or sid not in log.stage_wall_ms:
                    continue  # skipped stage, or counted by an earlier job
                seen.add(sid)
                tot["stages"] += 1
                agg = log.stage_tasks.get(sid, {})
                for k in ("tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_read",
                          "shuffle_write", "spill", "input"):
                    tot[k] += agg.get(k, 0)
                if log.stage_scan.get(sid):
                    tot["scan_stages"] += 1
                    tot["scan_ms"] += log.stage_wall_ms[sid]
        for ex in executions:
            w = log.exec_writes.get(ex, {})
            tot["files"] += w.get("files", 0)
            tot["bytes"] += w.get("bytes", 0)
        covered = _union_ms([(j.submit_ms, j.end_ms or sp.end_ms) for j in jobs])
        tot["gap_ms"] += max(0.0, (sp.end_ms - sp.start_ms) - covered)

    prog = [p for p in streams.progress if _op_of(spans, p["ts_ms"]) is not None]
    per_op_state: dict = {}
    for p in prog:
        sp = _op_of(spans, p["ts_ms"])
        cur = per_op_state.setdefault(id(sp), [0, 0])
        cur[0] = max(cur[0], p["state_rows"])
        cur[1] = max(cur[1], p["state_mem"])

    def dur(key: str) -> float:
        return sum(p["dur"].get(key, 0) for p in prog) / 1000.0 / n

    triggers = [p["dur"].get("triggerExecution", 0) for p in prog]
    return {
        "plans.build_s": sum(sp.build_end_ms - sp.start_ms for sp in spans) / 1000.0 / n,
        "plans.build_jobs": build_jobs / n,
        "engine.execute_s": sum(sp.end_ms - sp.build_end_ms for sp in spans) / 1000.0 / n,
        "engine.jobs": tot["jobs"] / n,
        "engine.stages": tot["stages"] / n,
        "engine.tasks": tot["tasks"] / n,
        "engine.sched_gap_s": tot["gap_ms"] / 1000.0 / n,
        "engine.executor_run_s": tot["run_ms"] / 1000.0 / n,
        "engine.executor_cpu_s": tot["cpu_ns"] / 1e9 / n,
        "engine.task_wait_ratio": (
            1.0 - (tot["cpu_ns"] / 1e6) / tot["run_ms"] if tot["run_ms"] else 0.0
        ),
        "engine.gc_s": tot["gc_ms"] / 1000.0 / n,
        "engine.shuffle_read_mb": tot["shuffle_read"] / MB / n,
        "engine.shuffle_write_mb": tot["shuffle_write"] / MB / n,
        "engine.spill_mb": tot["spill"] / MB / n,
        "engine.input_mb": tot["input"] / MB / n,
        "sources.weather_api.scan_stages": tot["scan_stages"] / n,
        "sources.weather_api.scan_s": tot["scan_ms"] / 1000.0 / n,
        "sources.tables.load_table_calls": tables.calls / n,
        "sources.tables.load_table_s": tables.seconds / n,
        "operators.merge.files_written": tot["files"] / n,
        "operators.merge.bytes_written_mb": tot["bytes"] / MB / n,
        "streaming.batches": len(prog) / n,
        "streaming.input_rows": sum(p["rows"] for p in prog) / n,
        "streaming.trigger_p50_ms": statistics.median(triggers) if triggers else 0.0,
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.planning_s": dur("queryPlanning"),
        "streaming.latest_offset_s": dur("latestOffset"),
        "streaming.wal_commit_s": dur("walCommit"),
        "streaming.state_rows": sum(v[0] for v in per_op_state.values()) / n,
        "streaming.state_mem_mb": sum(v[1] for v in per_op_state.values()) / MB / n,
    }
