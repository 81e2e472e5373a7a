"""Outside-in layer tracing: wrappers around the program's public layer
functions, and counters folded from Spark's event log.

Each wrapper sets a Spark job group in the calling thread for the
duration of the call (PySpark threads do not inherit local properties)
and restores the outer group on exit, so the innermost wrapped layer is
the one credited with a job. The spans (layer, group id, start, end) are
kept in memory. After the run, jobs are read back from the uncompressed
event log, and each measured unit's jobs are attributed by group. A job
without one of our groups takes the group of another job of the same SQL
execution when there is one; otherwise it is credited, by submission
time, to the entry point (``refresh``/``incrstats``) whose span encloses
it, and failing that it counts as unattributed. Units run one after
another, so attribution by time is exact.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

GROUP_PREFIX = "perfbench|"
ENTRY_LAYERS = ("refresh", "incrstats")
COUNTERS = ("jobs", "stages", "tasks", "shuffle_bytes", "in_bytes", "out_bytes",
            "files_out", "files_read")


@dataclass
class Span:
    layer: str
    gid: str
    t0: float
    t1: float


class Tracer:
    """Installs the layer wrappers and records their spans while enabled."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._ids = itertools.count()

    def wrap(self, module, attr: str, layer) -> None:
        """Replace ``module.attr`` by a traced twin. ``layer`` is a layer
        name or a function of the call's arguments returning one."""
        fn = getattr(module, attr)
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            from pyspark import SparkContext

            sc = SparkContext._active_spark_context
            name = layer(*args, **kwargs) if callable(layer) else layer
            gid = f"{GROUP_PREFIX}{name}|{next(tracer._ids)}"
            keys = ("spark.jobGroup.id", "spark.job.description")
            outer = [sc.getLocalProperty(k) for k in keys]
            sc.setJobGroup(gid, name)
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.time()
                for k, v in zip(keys, outer):
                    sc.setLocalProperty(k, v)
                with tracer._lock:
                    tracer.spans.append(Span(name, gid, t0, t1))

        traced.__wrapped__ = fn
        setattr(module, attr, traced)


def install_layer_wrappers(tracer: Tracer) -> None:
    """Wrap the public layer functions at the sites the program calls them."""
    from databricks_incremental_lakehouse_spark.llmdata import incrstats
    from databricks_incremental_lakehouse_spark.pipelines import runner
    from databricks_incremental_lakehouse_spark.streaming import refresh

    schemas = {"bronze": "bronze", "silver": "silver", "gold": "gold"}

    def write_layer(df, path, *a, **k) -> str:
        # <warehouse>/<schema>/<table>: bronze extracts, silver refined, gold views
        return schemas.get(os.path.basename(os.path.dirname(os.path.normpath(path))), "other")

    tracer.wrap(runner, "write_table", write_layer)
    tracer.wrap(runner, "run_all_checks", "quality")
    tracer.wrap(refresh, "merge_upsert", "merge")
    tracer.wrap(incrstats, "merge_upsert", "merge")
    tracer.wrap(incrstats, "apply_cdf_delta", "cdf_fold")
    tracer.wrap(refresh, "apply_order_updates", "refresh")
    tracer.wrap(incrstats, "apply_doc_updates", "incrstats")


def status_store_job_count(sc) -> int:
    """Jobs known to the application status store (the store behind
    ``statusTracker``); the traced run retains every job."""
    return int(sc._jsc.sc().statusStore().jobsList(None).size())


def _plan_metric_ids(plan: dict, names: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") in names:
            out[m["accumulatorId"]] = names[m["name"]]
    for child in plan.get("children", []):
        _plan_metric_ids(child, names, out)


_SQL_METRICS = {"number of written files": "files_out", "number of files read": "files_read"}
# events that carry a (re-)planned SQL plan with its metric accumulator ids
_PLAN_EVENTS = ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")


def read_event_log(path: str) -> dict:
    """Fold an uncompressed event log into per-job records."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage: dict[int, dict] = defaultdict(lambda: dict.fromkeys(COUNTERS[1:], 0))
    metric_of: dict[int, str] = {}
    exec_metrics: dict[int, dict] = defaultdict(lambda: defaultdict(int))
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"].rsplit(".", 1)[-1]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jid = e["Job ID"]
                exec_id = props.get("spark.sql.execution.id")
                jobs[jid] = {
                    "t": e["Submission Time"] / 1000.0,
                    "group": props.get("spark.jobGroup.id") or "",
                    "exec": int(exec_id) if exec_id is not None else None,
                    "stage_ids": e.get("Stage IDs", []),
                }
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerStageSubmitted":
                stage[e["Stage Info"]["Stage ID"]]["stages"] = 1
            elif kind == "SparkListenerTaskEnd":
                st = stage[e["Stage ID"]]
                st["tasks"] += 1
                tm = e.get("Task Metrics") or {}
                st["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st["in_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                st["out_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            elif kind in _PLAN_EVENTS:
                _plan_metric_ids(e.get("sparkPlanInfo") or {}, _SQL_METRICS, metric_of)
            elif kind == "SparkListenerDriverAccumUpdates":
                for acc_id, value in e.get("accumUpdates", []):
                    if acc_id in metric_of:
                        exec_metrics[e["executionId"]][metric_of[acc_id]] += value
    # stage counters to the job that first ran the stage; SQL file metrics
    # to the execution's first job
    for sid, st in stage.items():
        job = jobs.get(stage_job.get(sid))
        if job is not None:
            for k, v in st.items():
                job[k] = job.get(k, 0) + v
    first_job_of_exec: dict[int, int] = {}
    for jid in sorted(jobs):
        ex = jobs[jid]["exec"]
        if ex is not None:
            first_job_of_exec.setdefault(ex, jid)
    for ex, m in exec_metrics.items():
        jid = first_job_of_exec.get(ex)
        if jid is not None:
            for k, v in m.items():
                jobs[jid][k] = jobs[jid].get(k, 0) + v
    for job in jobs.values():
        job["jobs"] = 1
        for k in COUNTERS:
            job.setdefault(k, 0)
    return jobs


def find_event_log(log_dir: str, app_id: str) -> str:
    path = os.path.join(log_dir, app_id)
    if not os.path.isfile(path):
        raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")
    return path


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def attribute_unit(jobs: dict, spans: list[Span], t0: float, t1: float) -> dict:
    """Per-layer counters and seconds for one unit [t0, t1].

    Returns ``{layer: {counter: value}}`` plus the ``unattributed`` pseudo
    layer; entry layers carry ``self_*`` figures."""
    by_gid = {s.gid: s for s in spans}
    unit_spans = [s for s in spans if s.t0 >= t0 and s.t1 <= t1]
    exec_group: dict[int, str] = {}
    for job in jobs.values():
        if job["exec"] is not None and job["group"] in by_gid:
            exec_group.setdefault(job["exec"], job["group"])
    entries = [s for s in unit_spans if s.layer in ENTRY_LAYERS]
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    for job in jobs.values():
        if not t0 <= job["t"] <= t1:
            continue
        gid = job["group"] if job["group"] in by_gid else exec_group.get(job["exec"])
        if gid is not None:
            layer = by_gid[gid].layer
        else:
            host = [s for s in entries if s.t0 <= job["t"] <= s.t1]
            layer = host[0].layer if host else "unattributed"
        for k in COUNTERS:
            out[layer][k] += job[k]
    for s in unit_spans:
        o = out[s.layer]
        o["calls"] = o.get("calls", 0) + 1
        o["s"] = o.get("s", 0.0) + (s.t1 - s.t0)
    for e in entries:
        children = [
            (max(s.t0, e.t0), min(s.t1, e.t1))
            for s in unit_spans
            if s is not e and s.layer not in ENTRY_LAYERS and s.t0 < e.t1 and s.t1 > e.t0
        ]
        o = out[e.layer]
        o["self_s"] = o.get("self_s", 0.0) + (e.t1 - e.t0) - _union_length(children)
    return {k: dict(v) for k, v in out.items()}
