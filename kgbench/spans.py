"""Spans around the program's public functions, and the per-layer
figures read from them and from Spark's own event log.

Nothing here changes the program: ``Tracer.wrap`` swaps a module
attribute for a wrapper (and every other reference to the same function
that a loaded ``onto_text_tag_spark`` module took with ``from ...
import``), records a span per call, and tags the Spark jobs the call
launches with the span id through the ``kgbench.span`` local property.
The event log, switched on only in a traced run, carries that property
on every job start, so each task's metrics can be charged to the span
that caused them.  Spans stay in memory and are written out at the end.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import sys
import threading
import time

SPAN_PROP = "kgbench.span"


class Tracer:
    def __init__(self, sc, run_id: str) -> None:
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self.root: str | None = None  # parent of spans opened on other threads
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def open(self, name: str) -> dict:
        stack = self._local.__dict__.setdefault("stack", [])
        span = {
            "id": f"{self.run_id}:{next(self._ids)}",
            "name": name,
            "parent": stack[-1]["id"] if stack else self.root,
            "run": self.run_id,
            "start": time.time(),
        }
        stack.append(span)
        self.sc.setLocalProperty(SPAN_PROP, span["id"])
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.time()
        stack = self._local.stack
        stack.pop()
        self.sc.setLocalProperty(SPAN_PROP, stack[-1]["id"] if stack else self.root)
        self.spans.append(span)

    def wrap(self, module, attr: str, label=None) -> None:
        """Record a span per call of ``module.attr``.  ``label(args,
        kwargs)`` may add a suffix to the span name (the stage name of a
        sink call, say); a dict result keeps its numeric fields."""
        orig = getattr(module, attr)
        name = f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span = self.open(name + (f":{label(args, kwargs)}" if label else ""))
            try:
                out = orig(*args, **kwargs)
            finally:
                self.close(span)
            if isinstance(out, dict):
                span["out"] = {
                    k: v for k, v in out.items()
                    if isinstance(v, (int, float, str)) and not isinstance(v, bool)
                }
            return out

        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "") or ""
            if mname.startswith("onto_text_tag_spark") \
                    and getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapper)
                self._patched.append((mod, attr, orig))

    def patch(self, owner, attr: str, new) -> None:
        """Replace ``owner.attr`` until ``unwrap``."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def unwrap(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans, **extra}, fh)


def stage_arg(pos: int):
    """Label a sink call by its ``stage`` argument."""
    return lambda args, kwargs: kwargs.get("stage", args[pos] if len(args) > pos else "?")


# --------------------------------------------------------------------------
# event log


class EventLog:
    """Task metrics of one application, charged to spans."""

    def __init__(self, path: str) -> None:
        self.acc: dict[int, tuple[str, str, str]] = {}  # id → (node, metric, type)
        self.pair_filters: dict[int, int] = {}  # filter rows acc → exchange records acc
        self.job_span: dict[int, str | None] = {}
        self.job_exec: dict[int, int] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.driver_updates: list[tuple[int, int, float]] = []  # (exec, acc, value)
        with open(path) as fh:
            for line in fh:
                self._event(json.loads(line))

    def _plan(self, node: dict, exchange: int | None = None) -> None:
        name = node["nodeName"]
        accs = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
        for m in node.get("metrics", []):
            self.acc[m["accumulatorId"]] = (name, m["name"], m["metricType"])
        if name == "Exchange":
            exchange = accs.get("shuffle records written")
        elif name == "Union":
            exchange = None  # rows from other branches join the exchange
        kids = node.get("children", [])
        # the pair filter of the co-occurrence plan, Filter(src < dst)
        # right over the Generate that explodes dst, and the exchange
        # its partial aggregate feeds
        if (name == "Filter" and kids and kids[0]["nodeName"] == "Generate"
                and exchange is not None and "number of output rows" in accs):
            self.pair_filters[accs["number of output rows"]] = exchange
        for k in kids:
            self._plan(k, exchange)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            self._plan(e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                self.driver_updates.append((e["executionId"], acc_id, float(value)))
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.job_span[e["Job ID"]] = props.get(SPAN_PROP)
            if "spark.sql.execution.id" in props:
                self.job_exec[e["Job ID"]] = int(props["spark.sql.execution.id"])
            for sid in e["Stage IDs"]:
                self.stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            sql = {}
            for a in info.get("Accumulables", []):
                if a["ID"] in self.acc and "Update" in a:
                    sql[a["ID"]] = float(a["Update"])
            job = self.stage_job.get(e["Stage ID"])
            self.tasks.append({
                "stage": e["Stage ID"],
                "job": job,
                "span": self.job_span.get(job),
                "exec": self.job_exec.get(job),
                "ms": info["Finish Time"] - info["Launch Time"],
                "metrics": m,
                "sql": sql,
            })

    def tasks_under(self, span_ids: set[str]) -> list[dict]:
        return [t for t in self.tasks if t["span"] in span_ids]

    def sql_sum(self, tasks, node_prefix: str, metric: str) -> float:
        """Sum of one SQL metric over ``tasks``, in its base unit
        (seconds for timings, bytes for sizes)."""
        total = 0.0
        for t in tasks:
            for acc_id, value in t["sql"].items():
                node, name, kind = self.acc[acc_id]
                if name == metric and node.startswith(node_prefix):
                    total += value / (1e9 if kind == "nsTiming" else 1e3 if kind == "timing" else 1)
        return total

    def driver_sum(self, tasks, metric: str) -> float:
        """Sum of a metric the driver reports at the end of a write
        (files, bytes, job commit time) for the executions of ``tasks``."""
        execs = {t["exec"] for t in tasks}
        total = 0.0
        for ex, acc_id, value in self.driver_updates:
            if ex in execs and acc_id in self.acc and self.acc[acc_id][1] == metric:
                kind = self.acc[acc_id][2]
                total += value / (1e3 if kind == "timing" else 1)
        return total


def _task_sum(tasks, *path) -> float:
    total = 0.0
    for t in tasks:
        v = t["metrics"]
        for p in path:
            v = v.get(p, 0) if isinstance(v, dict) else 0
        total += v
    return total


def _descendants(spans: list[dict], roots: set[str]) -> set[str]:
    out = set(roots)
    grew = True
    while grew:
        grew = False
        for s in spans:
            if s["parent"] in out and s["id"] not in out:
                out.add(s["id"])
                grew = True
    return out


def _self_time(span: dict, spans: list[dict]) -> float:
    """Span duration minus the part of it its direct children cover."""
    covered, reach = 0.0, span["start"]
    for start, end in sorted((c["start"], c["end"]) for c in spans if c["parent"] == span["id"]):
        covered += max(0.0, end - max(start, reach))
        reach = max(reach, end)
    return span["end"] - span["start"] - covered


def layer_metrics(spans: list[dict], log: EventLog, round_id: str, offered: int) -> dict:
    """Per-layer figures of one measured round (the span ``round_id``
    and everything under it)."""
    under = _descendants(spans, {round_id})
    mine = [s for s in spans if s["id"] in under]

    def named(prefix):
        return [s for s in mine if s["name"].startswith(prefix)]

    def dur(prefix):
        return sum(s["end"] - s["start"] for s in named(prefix))

    def tasks_of(prefix):
        return log.tasks_under(_descendants(spans, {s["id"] for s in named(prefix)}))

    tasks = log.tasks_under(under)
    out: dict[str, float] = {}

    out["dictionary.build_s"] = dur("kg_pipeline.load_ontology_rows") + dur(
        "dictionary.build_dictionary_rows")
    out["tagger.compile_s"] = dur("tagger.compile_dictionary")

    mt = tasks_of("sinks.run_stage:mentions")
    out["mentions.stage_s"] = dur("sinks.run_stage:mentions")
    out["mentions.python_boot_s"] = log.sql_sum(mt, "MapInPandas", "time to start Python workers")
    out["mentions.python_init_s"] = log.sql_sum(mt, "MapInPandas", "time to initialize Python workers")
    out["mentions.python_run_s"] = log.sql_sum(mt, "MapInPandas", "time to run Python workers")
    out["mentions.python_sent_mb"] = log.sql_sum(mt, "MapInPandas", "data sent to Python workers") / 1e6
    out["mentions.python_returned_mb"] = log.sql_sum(
        mt, "MapInPandas", "data returned from Python workers") / 1e6
    out["mentions.scan_s"] = log.sql_sum(mt, "Scan", "scan time")
    out["mentions.input_mb"] = (log.sql_sum(mt, "Scan", "size of files read")
                                + log.driver_sum(mt, "size of files read")) / 1e6

    out["doc_terms.stage_s"] = dur("sinks.run_stage:doc_terms")
    out["triples.stage_s"] = dur("sinks.write_stage_branches:triples")
    out["nodes.stage_s"] = dur("sinks.run_stage:nodes")
    out["shuffle.write_mb"] = _task_sum(tasks, "Shuffle Write Metrics", "Shuffle Bytes Written") / 1e6
    out["shuffle.records"] = _task_sum(tasks, "Shuffle Write Metrics", "Shuffle Records Written")
    out["shuffle.write_s"] = _task_sum(tasks, "Shuffle Write Metrics", "Shuffle Write Time") / 1e9
    out["shuffle.fetch_wait_s"] = _task_sum(tasks, "Shuffle Read Metrics", "Fetch Wait Time") / 1e3
    out["spill.mb"] = _task_sum(tasks, "Disk Bytes Spilled") / 1e6
    out["agg.sort_fallback_tasks"] = log.sql_sum(tasks, "ObjectHashAggregate", "number of sort fallback tasks") \
        + log.sql_sum(tasks, "HashAggregate", "number of sort fallback tasks")
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["ms"])
    skews = [max(v) / max(statistics.median(v), 1.0) for v in by_stage.values() if len(v) >= 2]
    out["task.skew"] = statistics.median(skews) if skews else 1.0
    # pairs that leave the src<dst filter vs rows the co-occurrence
    # exchange receives after the map-side partial aggregate
    exploded = entering = 0.0
    exchange_accs = set(log.pair_filters.values())
    for t in tasks:
        for acc_id, value in t["sql"].items():
            if acc_id in log.pair_filters:
                exploded += value
            if acc_id in exchange_accs:
                entering += value
    out["cooccur.combine_ratio"] = entering / exploded if exploded else 0.0

    out["sinks.files_written"] = log.driver_sum(tasks, "number of written files")
    out["sinks.output_mb"] = log.driver_sum(tasks, "written output") / 1e6
    out["sinks.task_commit_s"] = log.sql_sum(tasks, "Execute InsertInto", "task commit time")
    out["sinks.commit_s"] = log.driver_sum(tasks, "job commit time") + dur("sinks.commit_stage")

    epochs = named("stream.epoch")
    n_ep = max(len(epochs), 1)
    dd = named("dedup_absorb.absorb_dedup_batch")
    out["dedup_absorb.epoch_s"] = statistics.median([s["end"] - s["start"] for s in dd]) if dd else 0.0
    dt = tasks_of("dedup_absorb.absorb_dedup_batch")
    out["dedup_absorb.python_run_s"] = log.sql_sum(dt, "", "time to run Python workers") / n_ep
    out["dedup_absorb.shuffle_mb"] = _task_sum(
        dt, "Shuffle Write Metrics", "Shuffle Bytes Written") / 1e6 / n_ep
    batch_docs = sum(s.get("out", {}).get("n_batch_docs", 0) for s in dd)
    survivors = sum(s.get("out", {}).get("n_batch_survivors", 0) for s in dd)
    out["dedup.survivor_ratio"] = survivors / batch_docs if batch_docs else 0.0
    ka = named("kg_absorb.absorb_batch")
    out["kg_absorb.epoch_s"] = statistics.median([s["end"] - s["start"] for s in ka]) if ka else 0.0
    out["kg_absorb.retract_s"] = dur("kg_absorb.retract_batch") / n_ep if epochs else 0.0
    new_docs = sum(s.get("out", {}).get("n_new_docs", 0) for s in ka)
    out["kg_absorb.new_doc_ratio"] = new_docs / offered if epochs and offered else 0.0
    ep_ids = _descendants(spans, {s["id"] for s in epochs})
    out["stream.jobs_per_epoch"] = (
        len({j for j, sp in log.job_span.items() if sp in ep_ids}) / n_ep if epochs else 0.0)
    out["stream.epoch_overhead_s"] = (
        statistics.median([_self_time(s, spans) for s in epochs]) if epochs else 0.0)

    out["cpu.executor_s"] = _task_sum(tasks, "Executor CPU Time") / 1e9
    out["cpu.gc_s"] = _task_sum(tasks, "JVM GC Time") / 1e3
    out["mem.peak_exec_mb"] = max(
        (t["metrics"].get("Peak Execution Memory", 0) for t in tasks), default=0) / 1e6
    return out


def event_log_file(log_dir: str, app_id: str) -> str:
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")
    return path
