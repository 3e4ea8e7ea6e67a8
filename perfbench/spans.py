"""Layer spans for the traced benchmark run, recorded from outside the
engine.

``Tracer.install()`` wraps the public functions of each layer module
(and the public methods of the layer classes) in place, so calls made
anywhere in the driver — by the benchmark or by the engine itself —
open a span named ``<layer>.<fn>``. Nothing under ``menelaus_spark/``
is edited. DataFrame-returning functions are lazy: their span covers
only plan building, so the returned frame is tagged and an action
called directly on it (``collect``, ``toPandas``, ``count``, a write)
reopens a span of the same name around the jobs it runs.

Spark-side numbers come from the plain JSON event log
(``spark.eventLog.compress=false``, rolling off). Each job is
attributed to the innermost span open at its submission time (job
groups are thread-local and the suite submits from a thread pool, so
they cannot be used); a span's inclusive figures cover every job
submitted inside its interval. ``driver_s`` is span wall not covered
by any job.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import inspect
import json
import os
import sys
import threading
import time

# (module, layer name, functions to wrap; None = every public function
# the module defines). `audio` is mostly per-clip numpy kernels that
# run inside Spark workers; its layer boundary here is the suite's
# entry point `features_df` (the kernels are timed driver-side, see
# run.py).
LAYER_MODULES = [
    ("menelaus_spark.session", "session", ["get_spark"]),
    ("menelaus_spark.tables", "tables", ["audio_table", "write_audio_table"]),
    ("menelaus_spark.audio", "audio", ["features_df"]),
    ("menelaus_spark.operators.constraints", "operators.constraints", None),
    ("menelaus_spark.operators.histograms", "operators.histograms", None),
    ("menelaus_spark.operators.sketches", "operators.sketches", None),
    ("menelaus_spark.operators.audio_dedup", "operators.audio_dedup", None),
    ("menelaus_spark.operators.clusters", "operators.clusters", None),
]

# (module, class, layer name, methods). The suite's full-table
# uniqueness pass is inline in the runner (no operators.* call), so its
# private method gets a span of its own: it is the pass the
# incremental workload repeats on every append.
LAYER_CLASSES = [
    ("menelaus_spark.runner", "ValidationSuite", "runner",
     {"__init__": "init", "run": "run",
      "_global_uniqueness_verdict": "global_uniqueness"}),
    ("menelaus_spark.state", "CheckpointManifest", "state",
     {"__init__": "load", "append": "append"}),
    ("menelaus_spark.checks.hdm", "HDM", "checks.hdm",
     {m: m for m in ("set_reference", "update", "set_state", "get_state", "reset")}),
    ("menelaus_spark.checks.kdqtree", "KdqTreeBatch", "checks.kdqtree",
     {m: m for m in ("set_reference", "update", "install_reference",
                     "observe_counts", "build_tree_from_sample",
                     "set_state", "get_state")}),
]

# per-clip helpers referenced from inside Spark UDF closures: never
# wrapped, so the closures pickle exactly as they do untraced
NEVER_WRAP = {"shingle_hex"}

# physical-plan node names (RDD operation scopes) of Python UDF stages
PYTHON_SCOPES = ("InPandas", "InArrow", "EvalPython", "PythonUDTF")


class Tracer:
    """Spans kept in memory; ``enabled`` toggles recording so traced
    and untraced ops can alternate inside one process."""

    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        # id(DataFrame) -> (frame, span name) for frames a layer
        # function returned; holding the frame keeps its id unique
        self._tagged: dict[int, tuple[object, str]] = {}

    # ------------------------------------------------------- recording

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parents = tuple(s["name"] for s in stack)
        rec = {"name": name, "start": time.time(), "end": None,
               "thread": threading.get_ident(), "parents": parents}
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if _is_dataframe(out):
                tracer._tagged[id(out)] = (out, name)
            return out

        return wrapper

    # -------------------------------------------------------- patching

    def install(self) -> None:
        """Wrap every layer function in place and rebind the names any
        already-imported engine module took with ``from x import y``."""
        swap: dict[int, object] = {}
        for modname, layer, names in LAYER_MODULES:
            mod = importlib.import_module(modname)
            if names is None:
                names = [
                    n for n, f in vars(mod).items()
                    if inspect.isfunction(f) and f.__module__ == modname
                    and not n.startswith("_") and n not in NEVER_WRAP
                ]
            for n in names:
                orig = getattr(mod, n)
                w = self._wrap(f"{layer}.{n}", orig)
                setattr(mod, n, w)
                swap[id(orig)] = w
        for modname, clsname, layer, methods in LAYER_CLASSES:
            cls = getattr(importlib.import_module(modname), clsname)
            for attr, short in methods.items():
                setattr(cls, attr, self._wrap(f"{layer}.{short}", cls.__dict__[attr]))
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("menelaus_spark") or mod is None:
                continue
            for n, v in list(vars(mod).items()):
                w = swap.get(id(v))
                if w is not None and v is not w:
                    setattr(mod, n, w)
        self._patch_actions()

    def _patch_actions(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        tracer = self

        def on_frame(get_df, fn):
            @functools.wraps(fn)
            def action(this, *args, **kwargs):
                if tracer.enabled:
                    df = get_df(this)
                    hit = tracer._tagged.get(id(df))
                    if hit is not None and hit[0] is df:
                        with tracer.span(hit[1]):
                            return fn(this, *args, **kwargs)
                return fn(this, *args, **kwargs)
            return action

        for m in ("collect", "toPandas", "count", "take", "first", "head", "toArrow"):
            setattr(DataFrame, m, on_frame(lambda d: d, getattr(DataFrame, m)))
        for m in ("save", "parquet"):
            setattr(DataFrameWriter, m, on_frame(lambda w: w._df, getattr(DataFrameWriter, m)))

    def forget_frames(self) -> None:
        self._tagged.clear()


def _is_dataframe(obj) -> bool:
    from pyspark.sql import DataFrame

    return isinstance(obj, DataFrame)


# ------------------------------------------------------------ event log


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs with their task totals, from the single uncompressed log
    the (stopped) application wrote. Times are epoch seconds."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {paths}")
    jobs: dict[int, dict] = {}
    stage_jobs: dict[int, list[int]] = {}
    python_stages: set[int] = set()
    tasks: list[tuple[int, float, dict]] = []
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"submit": ev["Submission Time"] / 1e3, "end": None,
                             **{k: 0 for k in _TASK_FIELDS}, "python_task_s": 0.0}
                for info in ev.get("Stage Infos", []):
                    sid = info["Stage ID"]
                    stage_jobs.setdefault(sid, []).append(jid)
                    for rdd in info.get("RDD Info", []):
                        scope = rdd.get("Scope") or ""
                        if any(s in scope for s in PYTHON_SCOPES):
                            python_stages.add(sid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                tasks.append((ev["Stage ID"], ev["Task Info"]["Launch Time"] / 1e3,
                              ev["Task Metrics"]))
    for sid, launched, m in tasks:
        # a stage listed by several jobs runs its tasks for the latest
        # one submitted before the task launched
        owners = [j for j in stage_jobs.get(sid, []) if jobs[j]["submit"] <= launched]
        if not owners:
            continue
        job = jobs[max(owners, key=lambda j: jobs[j]["submit"])]
        shuffle_read = m.get("Shuffle Read Metrics", {})
        vals = {
            "tasks": 1,
            "task_s": m.get("Executor Run Time", 0) / 1e3,
            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
            "input_mb": m.get("Input Metrics", {}).get("Bytes Read", 0) / 1e6,
            "output_mb": m.get("Output Metrics", {}).get("Bytes Written", 0) / 1e6,
            "shuffle_mb": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6,
            "shuffle_read_mb": (shuffle_read.get("Remote Bytes Read", 0)
                                + shuffle_read.get("Local Bytes Read", 0)) / 1e6,
            "result_mb": m.get("Result Size", 0) / 1e6,
        }
        for k, v in vals.items():
            job[k] += v
        if sid in python_stages:
            job["python_task_s"] += vals["task_s"]
    out = []
    for jid, j in sorted(jobs.items()):
        if j["end"] is None:
            j["end"] = j["submit"]
        out.append({"id": jid, **j})
    return out


_TASK_FIELDS = ("tasks", "task_s", "cpu_s", "input_mb", "output_mb",
                "shuffle_mb", "shuffle_read_mb", "result_mb")
SPAN_FIELDS = ("wall_s", "jobs") + _TASK_FIELDS + ("python_task_s", "driver_s")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def span_figures(span: dict, jobs: list[dict]) -> dict:
    """Inclusive figures of one span: every job submitted inside it."""
    lo, hi = span["start"], span["end"]
    inside = [j for j in jobs if lo <= j["submit"] <= hi]
    fig = {"wall_s": hi - lo, "jobs": len(inside)}
    for k in _TASK_FIELDS + ("python_task_s",):
        fig[k] = sum(j[k] for j in inside)
    fig["driver_s"] = (hi - lo) - covered([(j["submit"], j["end"]) for j in jobs], lo, hi)
    return fig


def innermost_jobs(spans: list[dict], jobs: list[dict]) -> dict[int, int]:
    """Job id -> index of the innermost span open at its submission
    (the open span that started last), over spans of every thread."""
    owner = {}
    for j in jobs:
        best = None
        for i, s in enumerate(spans):
            if s["start"] <= j["submit"] <= s["end"] and (
                    best is None or s["start"] > spans[best]["start"]):
                best = i
        if best is not None:
            owner[j["id"]] = best
    return owner


def per_name(spans: list[dict], jobs: list[dict]) -> dict[str, dict]:
    """Per span name: calls and summed inclusive figures over the
    outermost spans of that name (an action span nested in a span of
    the same name is not counted twice), plus self figures from
    innermost-span job attribution."""
    out: dict[str, dict] = {}
    for s in spans:
        agg = out.setdefault(s["name"], {"calls": 0, **{k: 0.0 for k in SPAN_FIELDS},
                                         "self_jobs": 0, "self_task_s": 0.0})
        if s["name"] in s["parents"]:
            continue
        agg["calls"] += 1
        for k, v in span_figures(s, jobs).items():
            agg[k] += v
    owner = innermost_jobs(spans, jobs)
    for j in jobs:
        i = owner.get(j["id"])
        if i is not None:
            agg = out[spans[i]["name"]]
            agg["self_jobs"] += 1
            agg["self_task_s"] += j["task_s"]
    return out
