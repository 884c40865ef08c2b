"""Traced runs: spans around the program's public calls, and Spark
event-log attribution of task time, shuffle bytes, spill and GC to them.

Everything here sits outside the program.  ``Tracer.install`` replaces
the public entry points of each layer with wrappers that open a span
and set the Spark job group to ``<layer>#<span id>``; after the run,
``layer_metrics`` reads the event log and charges every task to the
innermost span whose job group it ran under.

Two layers do their work lazily and are split out of ``lake.merge``:
``conflate`` and ``with_text`` only build a plan, which ``merge_apply``
executes in the SQL execution of its first stage (the one that
materialises the conflated, enriched source).  That execution is charged to
``cdc.conflate``, except the Python UDF time its tasks report ("time
to run Python workers"), which is charged to ``extract.html_text``.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import statistics
import threading
import time

PY_TIME_METRIC = "time to run Python workers"
EPOCH_LAYERS = ("cdc.apply", "streaming.stream_apply")


class Tracer:
    """Spans around the program's public calls.  Spans nest per thread;
    while ``active`` is false the wrappers call straight through.
    ``self_s`` sums the wall the tracer itself spends opening and closing
    spans (the job-group calls into the JVM included): its overhead."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.active = False
        self.spans: list[dict] = []
        self.self_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{span['layer']}#{span['id']}", span["layer"])

    @contextlib.contextmanager
    def span(self, layer: str):
        t = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {"id": next(self._ids), "parent": parent["id"] if parent else None, "layer": layer}
        stack.append(rec)
        self._set_group(rec)
        rec["t0"] = time.monotonic()
        self.self_s += time.perf_counter() - t
        try:
            yield rec
        finally:
            rec["t1"] = time.monotonic()
            t = time.perf_counter()
            stack.pop()
            self._set_group(parent)
            self.spans.append(rec)
            self.self_s += time.perf_counter() - t

    def _wrap(self, owner, name: str, layer: str, record_result: bool = False) -> None:
        orig = getattr(owner, name)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.active:
                return orig(*args, **kwargs)
            with self.span(layer) as rec:
                out = orig(*args, **kwargs)
                if record_result:
                    rec["result"] = out
                return out

        self._undo.append((owner, name, orig))
        setattr(owner, name, wrapper)

    def install(self) -> None:
        """Wrap each layer's public calls.  Functions the appliers import
        by name are wrapped in the importing module's namespace."""
        from realdeal_spark.cdc import apply as apply_mod
        from realdeal_spark.lake.table import LakeTable
        from realdeal_spark.streaming import stream_apply as stream_mod

        self._wrap(apply_mod.CdcApplier, "apply_epoch", "cdc.apply")
        self._wrap(stream_mod.StreamingCdcApplier, "apply_batch", "streaming.stream_apply")
        for mod in (apply_mod, stream_mod):
            self._wrap(mod, "resolve_strategy", "cdc.admission.resolve", record_result=True)
            self._wrap(mod, "admission_stats", "cdc.admission")
            self._wrap(mod, "conflate", "cdc.conflate")
            self._wrap(mod, "merge_apply", "lake.merge")
        self._wrap(LakeTable, "snapshot", "lake.table.snapshot")
        self._wrap(LakeTable, "compact", "lake.table.compact")
        self._wrap(LakeTable, "lookup", "lake.table.lookup")
        self._wrap(LakeTable, "read_changes", "lake.table.read_changes")

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._undo):
            setattr(owner, name, orig)
        self._undo.clear()


def event_log_file(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def read_event_log(path: str) -> tuple[dict, list[str | None], list[dict]]:
    """-> (stage id -> {group, exec}, [job group per job], [task records])."""
    stages: dict[int, dict] = {}
    jobs: list[str | None] = []
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                sid = ev["Stage Info"]["Stage ID"]
                stages[sid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "exec": props.get("spark.sql.execution.id"),
                }
            elif kind == "SparkListenerJobStart":
                jobs.append((ev.get("Properties") or {}).get("spark.jobGroup.id"))
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                py_ms = sum(
                    float(a.get("Update") or 0)
                    for a in info.get("Accumulables", [])
                    if a.get("Name") == PY_TIME_METRIC
                )
                tasks.append(
                    {
                        "stage": ev["Stage ID"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "shuffle_w": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        "out_bytes": (m.get("Output Metrics") or {}).get(
                            "Bytes Written", 0
                        ),
                        "py_ms": py_ms,
                    }
                )
    return stages, jobs, tasks


def median0(xs) -> float:
    """Median, or 0 for no values (a layer that did not run)."""
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _span_id(group: str | None) -> int | None:
    """The span id in a ``<layer>#<id>`` job group, else None."""
    head, _, tail = (group or "").rpartition("#")
    return int(tail) if head and tail.isdigit() else None


def layer_metrics(spans: list[dict], log_path: str) -> dict[str, tuple[float, str]]:
    """Per-epoch and per-call layer numbers, ``name -> (value, unit)``,
    from the spans and the event log.  A layer that did not run reads 0."""
    stages, jobs, tasks = read_event_log(log_path)
    by_id = {s["id"]: s for s in spans}

    def epoch_of(sid):
        while sid is not None:
            s = by_id.get(sid)
            if s is None:
                return None
            if s["layer"] in EPOCH_LAYERS:
                return sid
            sid = s["parent"]
        return None

    jobs_per_span: dict[int, int] = {}
    tasks_per_span: dict[int, list[dict]] = {}
    for group in jobs:
        sid = _span_id(group)
        if sid in by_id:
            jobs_per_span[sid] = jobs_per_span.get(sid, 0) + 1
    for r in tasks:
        st = stages.get(r["stage"], {})
        sid = _span_id(st.get("group"))
        if sid in by_id:
            tasks_per_span.setdefault(sid, []).append(dict(r, exec=st.get("exec")))

    epochs = [s for s in spans if s["layer"] in EPOCH_LAYERS]
    per_epoch = {
        e["id"]: {
            "jobs": 0, "admission": 0.0, "conflate": 0.0, "extract": 0.0,
            "merge": 0.0, "conflate_shuffle": 0, "conflate_spill": 0,
            "skew": 0.0, "merge_out": 0, "gc": 0.0, "spill": 0, "light": [],
        }
        for e in epochs
    }
    for s in spans:
        eid = epoch_of(s["id"])
        if eid is None:
            continue
        acc = per_epoch[eid]
        acc["jobs"] += jobs_per_span.get(s["id"], 0)
        ts = tasks_per_span.get(s["id"], [])
        acc["gc"] += sum(t["gc_ms"] for t in ts) / 1000
        acc["spill"] += sum(t["spill"] for t in ts)
        if s["layer"] == "cdc.admission.resolve":
            acc["light"].append(s.get("result") == "light")
        elif s["layer"] == "cdc.admission":
            acc["admission"] += sum(t["run_ms"] for t in ts) / 1000
        elif s["layer"] == "lake.merge":
            # the SQL execution of the span's first stage; not the lowest
            # execution id, since a streaming micro-batch's own execution
            # id leaks onto some jobs run from foreachBatch
            first = min(ts, key=lambda t: t["stage"])["exec"] if ts else None
            src = [t for t in ts if t["exec"] == first]
            py = sum(t["py_ms"] for t in ts) / 1000
            src_run = sum(t["run_ms"] for t in src) / 1000
            src_py = sum(t["py_ms"] for t in src) / 1000
            acc["extract"] += py
            acc["conflate"] += src_run - src_py
            acc["merge"] += sum(t["run_ms"] for t in ts) / 1000 - src_run - (py - src_py)
            acc["conflate_shuffle"] += sum(t["shuffle_w"] for t in src)
            acc["conflate_spill"] += sum(t["spill"] for t in src)
            acc["merge_out"] += sum(t["out_bytes"] for t in ts)
            by_stage: dict[int, list[float]] = {}
            for t in src:
                by_stage.setdefault(t["stage"], []).append(t["run_ms"])
            for runs in by_stage.values():
                if len(runs) >= 2 and statistics.median(runs) > 0:
                    acc["skew"] = max(acc["skew"], max(runs) / statistics.median(runs))

    eps = list(per_epoch.values())
    light = [x for e in eps for x in e["light"]]

    def walls(layer):
        return [s["t1"] - s["t0"] for s in spans if s["layer"] == layer]

    compacts = [s for s in spans if s["layer"] == "lake.table.compact"]
    return {
        "cdc.apply.jobs_per_epoch": (median0(e["jobs"] for e in eps), "count"),
        "cdc.apply.gc_s": (median0(e["gc"] for e in eps), "s"),
        "cdc.apply.spill_bytes": (median0(e["spill"] for e in eps), "bytes"),
        "cdc.admission.busy_s": (median0(e["admission"] for e in eps), "s"),
        "cdc.admission.light_share": ((sum(light) / len(light)) if light else 0.0, "ratio"),
        "cdc.conflate.busy_s": (median0(e["conflate"] for e in eps), "s"),
        "cdc.conflate.shuffle_write_bytes": (
            median0(e["conflate_shuffle"] for e in eps), "bytes"
        ),
        "cdc.conflate.spill_bytes": (median0(e["conflate_spill"] for e in eps), "bytes"),
        "cdc.conflate.task_skew": (median0(e["skew"] for e in eps), "ratio"),
        "extract.html_text.busy_s": (median0(e["extract"] for e in eps), "s"),
        "lake.merge.busy_s": (median0(e["merge"] for e in eps), "s"),
        "lake.merge.bytes_written": (median0(e["merge_out"] for e in eps), "bytes"),
        "lake.table.snapshot_s": (median0(walls("lake.table.snapshot")), "s"),
        "lake.table.compact_s": (median0(walls("lake.table.compact")), "s"),
        "lake.table.compact_bytes_rewritten": (
            median0(
                sum(t["out_bytes"] for t in tasks_per_span.get(s["id"], []))
                for s in compacts
            ),
            "bytes",
        ),
    }
