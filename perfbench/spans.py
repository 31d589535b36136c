"""Benchmark-side spans and the parser that turns them, together with
Spark's event log, into per-layer metrics.

Spans are recorded around the calls the benchmark makes into each layer:
`vpl.parse` / `vpl.compile` (the VPL front end), `stream.build` (the
`Stream` / `operators` query constructors), `spark.plan` (Catalyst
planning, forced before the action) and `spark.action` (the action). Every
span carries a name, start, end, parent span and the run id. While a span
is open, the benchmark tags the Spark jobs it starts with the span id
(a local property), so the event log's jobs, stages and tasks can be
attributed to the span that caused them.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import time
from collections import defaultdict

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    """Keeps spans in memory; `spans` is written out when the run ends."""

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        self._tag(sid)
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id, **attrs}
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.spans.append(rec)
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, sid) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(
                SPAN_PROPERTY, None if sid is None else f"{self.run_id}:{sid}"
            )


class EventLogRecorder:
    """Spark's own event log, attached to a live context for the traced
    passes only (the listener Spark installs for `spark.eventLog.enabled`,
    added and removed around the traced work), so traced and untraced
    passes share one warm session."""

    def __init__(self, spark, log_dir: str, name: str):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        jvm = sc._jvm
        conf = (
            self._sc.conf().clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        os.makedirs(log_dir, exist_ok=True)
        self.path = os.path.join(log_dir, name)
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            name, jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + os.path.abspath(log_dir)),
            conf, sc._jsc.hadoopConfiguration(),
        )

    def __enter__(self) -> "EventLogRecorder":
        self._listener.start()
        self._sc.addSparkListener(self._listener)
        return self

    def __exit__(self, *exc) -> None:
        self._sc.listenerBus().waitUntilEmpty()
        self._sc.removeSparkListener(self._listener)
        self._listener.stop()


class NullTracer:
    """The untraced run: same call sites, nothing recorded."""

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {}


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

# SQL metric names (Spark 4.1) summed into the per-layer metrics. "time to
# initialize Python workers" is left out: a reused worker starts that clock
# when it finishes its previous task, so it counts idle time between tasks.
_PY_METRICS = {
    "time to start Python workers": "boot_ms",
    "time to run Python workers": "run_ms",
    "data sent to Python workers": "bytes_to_py",
    "data returned from Python workers": "bytes_from_py",
}
_SCAN_TIME = {"scan time"}
_AGG_SORT_TIME = {"time in aggregation build", "sort time"}


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


class EventLog:
    """The parts of one Spark event log the per-layer metrics need."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.tasks_by_stage: dict[tuple, list[float]] = defaultdict(list)
        self.task_totals: dict[tuple, dict] = defaultdict(lambda: defaultdict(float))
        self.metric_names: dict[int, str] = {}
        self.accum_by_stage: dict[tuple, dict[int, float]] = defaultdict(
            lambda: defaultdict(float)
        )
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs[ev["Job ID"]] = {
                "start": ev["Submission Time"],
                "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                "span": props.get(SPAN_PROPERTY),
            }
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            self._task_end(ev)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            self._plan_metrics(ev.get("sparkPlanInfo") or {})

    def _task_end(self, ev: dict) -> None:
        info = ev.get("Task Info") or {}
        if info.get("Failed") or info.get("Killed"):
            return
        key = (ev["Stage ID"], ev["Stage Attempt ID"])
        self.tasks_by_stage[key].append(
            (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
        )
        m = ev.get("Task Metrics") or {}
        tot = self.task_totals[key]
        tot["cpu_ns"] += m.get("Executor CPU Time", 0)
        tot["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        tot["scan_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        tot["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        tot["shuffle_write_ns"] += sw.get("Shuffle Write Time", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        tot["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        acc = self.accum_by_stage[key]
        for a in info.get("Accumulables", []):
            upd = a.get("Update")
            if isinstance(upd, (int, float)) or (isinstance(upd, str) and upd.lstrip("-").isdigit()):
                acc[a["ID"]] += float(upd)

    def _plan_metrics(self, node: dict) -> None:
        for m in node.get("metrics", []):
            self.metric_names[m["accumulatorId"]] = m["name"]
        for child in node.get("children", []):
            self._plan_metrics(child)

    def stage_job_spans(self) -> dict[int, str | None]:
        owner = {}
        for job in self.jobs.values():
            for sid in job["stages"]:
                owner[sid] = job["span"]
        return owner


def layer_totals(log: EventLog, span_ids: set[str] | None = None) -> dict:
    """Totals over the stages whose job was started inside one of
    `span_ids` (all stages when None)."""
    owner = log.stage_job_spans()
    out = defaultdict(float)
    py = defaultdict(float)
    for key, times in log.tasks_by_stage.items():
        if span_ids is not None and owner.get(key[0]) not in span_ids:
            continue
        out["stages"] += 1
        out["tasks"] += len(times)
        out["straggler_s"] += max(times) - statistics.median(times)
        tot = log.task_totals[key]
        for k, v in tot.items():
            out[k] += v
        for acc_id, v in log.accum_by_stage[key].items():
            name = log.metric_names.get(acc_id)
            if name in _PY_METRICS:
                py[_PY_METRICS[name]] += v
            elif name in _SCAN_TIME:
                out["scan_ms"] += v
            elif name in _AGG_SORT_TIME:
                out["agg_sort_ms"] += v
    out["jobs"] = sum(
        1 for j in log.jobs.values() if span_ids is None or j["span"] in span_ids
    )
    return {**out, **{f"py_{k}": v for k, v in py.items()}}


def driver_gap_s(log: EventLog, action_spans: list[dict]) -> float:
    """Σ over actions of (action wall − union of its job spans)."""
    gap = 0.0
    for sp in action_spans:
        sid = f"{sp['run']}:{sp['id']}"
        jobs = [(j["start"], j["end"]) for j in log.jobs.values()
                if j["span"] == sid and "end" in j]
        covered = _union_ms(jobs) / 1000.0
        gap += max(0.0, (sp["end"] - sp["start"]) - covered)
    return gap


def span_keys(span_list: list[dict], **match) -> set[str]:
    """Job tags of the spans whose attributes equal `match`."""
    return {
        f"{s['run']}:{s['id']}"
        for s in span_list
        if all(s.get(k) == v for k, v in match.items())
    }


def engine_layers(tot: dict) -> dict:
    return {
        "spark.jobs": tot.get("jobs", 0),
        "spark.stages": tot.get("stages", 0),
        "spark.tasks": tot.get("tasks", 0),
        "spark.executor_cpu_s": tot.get("cpu_ns", 0) / 1e9,
        "engine.scan_bytes": tot.get("scan_bytes", 0),
        "engine.scan_s": tot.get("scan_ms", 0) / 1000,
        "spark.shuffle_write_bytes": tot.get("shuffle_write_bytes", 0),
        "spark.shuffle_write_s": tot.get("shuffle_write_ns", 0) / 1e9,
        "spark.shuffle_read_bytes": tot.get("shuffle_read_bytes", 0),
        "spark.spill_bytes": tot.get("spill_bytes", 0),
        "spark.agg_sort_s": tot.get("agg_sort_ms", 0) / 1000,
        "spark.straggler_s": tot.get("straggler_s", 0),
    }


def pykernel_layers(family: str, tot: dict) -> dict:
    return {
        f"pykernel.{family}.boot_s": tot.get("py_boot_ms", 0) / 1000,
        f"pykernel.{family}.run_s": tot.get("py_run_ms", 0) / 1000,
        f"pykernel.{family}.bytes_to_py": tot.get("py_bytes_to_py", 0),
        f"pykernel.{family}.bytes_from_py": tot.get("py_bytes_from_py", 0),
    }


# every per-layer metric, in BENCHMARK.json order, with its unit; a layer
# that does no work on a workload reports 0
PER_LAYER = {
    "vpl.parse_s": "s",
    "vpl.compile_s": "s",
    "stream.build_s": "s",
    "stream.build_jobs": "count",
    "spark.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "engine.scan_bytes": "bytes",
    "engine.scan_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_write_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.agg_sort_s": "s",
    "spark.straggler_s": "s",
    "spark.executor_cpu_s": "s",
    **{
        f"pykernel.{fam}.{m}": unit
        for fam in ("dedup", "cep")
        for m, unit in (("boot_s", "s"), ("run_s", "s"),
                        ("bytes_to_py", "bytes"), ("bytes_from_py", "bytes"))
    },
    "spark.speedup_1core": "ratio",
    **{
        f"streaming.{phase}_ms_p50": "ms"
        for phase in ("trigger", "add_batch", "query_planning", "get_batch",
                      "latest_offset", "wal_commit", "commit_offsets")
    },
    "streaming.batches": "count",
    "streaming.batch_rows_p50": "count",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.state_commit_ms_p50": "ms",
    "streaming.backlog_files_end": "count",
    "sinks.foreach_batch_ms_p50": "ms",
    "gen.late_ms_p99": "ms",
    "trace.overhead_frac": "ratio",
}


def as_metrics(layers: dict) -> dict:
    unknown = set(layers) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"not a per-layer metric: {sorted(unknown)}")
    return {
        name: {"value": float(layers.get(name, 0.0)), "unit": unit}
        for name, unit in PER_LAYER.items()
    }
