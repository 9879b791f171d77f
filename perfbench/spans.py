"""Spans around the calls into grove_spark's public functions, recorded
from outside the program.

``Tracer.install()`` replaces module attributes (``pipeline.build_pipeline``,
``sinks.write_partitioned_parquet``, ``RunState.commit`` ...) with wrappers
that record a span per call: name, start, end, parent and invocation id.
Every Spark job started inside a span carries the span name as its job
description and the invocation id as its job group, so task time, shuffle
and spill bytes are read back per span from Spark's status store.

Lazy functions (``parse_stage``, ``route`` ...) only build a plan; their
span times plan building. DataFrames returned by ``sink_counts`` and
``boundary_hashes`` are tagged so the action that later runs them gets a
span of its own. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import functools
import json
import re
import time
from contextlib import contextmanager

# (module path, attribute, span name). Functions that run jobs (write,
# footer reads, state commit) time real work; the rest time planning.
TARGETS = [
    ("grove_spark.plans.pipeline", "build_pipeline", "pipeline.plan"),
    ("grove_spark.plans.pipeline", "dedup_by_pointer", "dedup.watermark"),
    ("grove_spark.operators.dedup", "dedup_by_hash", "dedup.hash"),
    ("grove_spark.operators.dedup", "boundary_hashes", "dedup.boundary"),
    ("grove_spark.plans.pipeline", "parse_stage", "parse.plan"),
    ("grove_spark.plans.pipeline", "enrich", "enrich.plan"),
    ("grove_spark.operators.enrich", "enrich", "enrich.plan"),
    ("grove_spark.plans.pipeline", "grove_metadata", "metadata.plan"),
    ("grove_spark.plans.pipeline", "route", "routing.route"),
    ("grove_spark.operators.routing", "route", "routing.route"),
    ("grove_spark.plans.pipeline", "sink_counts", "routing.counts"),
    ("grove_spark.plans.pipeline", "salted_repartition", "routing.repartition"),
    ("grove_spark.plans.pipeline", "write_partitioned_parquet", "sinks.write"),
    ("grove_spark.operators.sinks", "write_partitioned_parquet", "sinks.write"),
    ("grove_spark.sources.file_stats", "prune_files", "sources.prune"),
    ("grove_spark.sources.file_stats", "parquet_file_stats", "state.file_stats"),
    ("grove_spark.config", "assemble_fleet", "config.plan"),
    ("grove_spark.operators.processors", "apply_chain", "processors.plan"),
]
STATE_READS = ["version", "pointer", "seen_hashes", "get", "due", "new_run_id"]
STATE_WRITES = ["commit_many", "register_pending"]
# DataFrames these spans return are run later by the caller's action
ACTION_TAGS = {"routing.counts", "dedup.boundary"}
ACTIONS = ["collect", "count", "toArrow", "toPandas"]


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list = []
        self.stack: list = []
        self.invocation: str | None = None
        self.enabled = False
        self.captured: dict = {}  # span name -> last return value
        self._saved: list = []
        self._next_id = 0

    # ---- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = self._next_id
        self._next_id += 1
        rec = {"id": sid, "name": name, "parent": self.stack[-1]["id"] if self.stack else None,
               "invocation": self.invocation, "start": time.perf_counter(), "end": None}
        rec.update(attrs)
        self.stack.append(rec)
        self.sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            self.sc.setJobDescription(self.stack[-1]["name"] if self.stack else None)
            self.spans.append(rec)

    @contextmanager
    def invocation_scope(self, inv_id: str):
        """Trace one invocation. Its jobs get the invocation id as job
        group, so they can be listed after."""
        self.invocation, self.enabled = inv_id, True
        self.sc.setJobGroup(inv_id, inv_id)
        try:
            with self.span("invocation"):
                yield
        finally:
            self.sc.setJobGroup("perfbench-untraced", "untraced")
            self.invocation, self.enabled = None, False

    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **k):
            if not tracer.enabled:
                return fn(*a, **k)
            with tracer.span(name):
                out = fn(*a, **k)
            tracer.captured[name] = out
            if name in ACTION_TAGS:
                out._perfbench_span = name
            return out

        return wrapper

    def _wrap_action(self, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(df, *a, **k):
            name = getattr(df, "_perfbench_span", None)
            if not tracer.enabled or name is None:
                return fn(df, *a, **k)
            with tracer.span(name + ".action"):
                return fn(df, *a, **k)

        return wrapper

    def install(self):
        import importlib

        from grove_spark.state.runstate import RunState

        def patch(owner, attr, new):
            self._saved.append((owner, attr, owner.__dict__[attr]))
            setattr(owner, attr, new)

        for mod, attr, name in TARGETS:
            m = importlib.import_module(mod)
            patch(m, attr, self._wrap(getattr(m, attr), name))
        for attr in STATE_READS:
            patch(RunState, attr, self._wrap(getattr(RunState, attr), "state.read"))
        for attr in STATE_WRITES:
            patch(RunState, attr, self._wrap(getattr(RunState, attr), "state.commit"))
        # classic DataFrame subclasses the public one; patch where defined
        df_cls = type(self.spark.range(1))
        for attr in ACTIONS:
            owner = next(c for c in df_cls.__mro__ if attr in c.__dict__)
            patch(owner, attr, self._wrap_action(owner.__dict__[attr]))

    def uninstall(self):
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    # ---- Spark status store ------------------------------------------------
    def stage_metrics(self, inv_id: str) -> dict:
        """Per span name: job count, task seconds, shuffle-write and spill
        bytes, output bytes, summed over the invocation's jobs."""
        store = self.sc._jsc.sc().statusStore()
        out: dict = {}
        seen_stages = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(inv_id):
            job = store.job(jid)
            desc = job.description()
            name = desc.get() if desc.isDefined() else "?"
            agg = out.setdefault(name, {"jobs": 0, "task_s": 0.0, "shuffle_write_bytes": 0,
                                        "spill_bytes": 0, "output_bytes": 0})
            agg["jobs"] += 1
            ids = job.stageIds().mkString(",")
            for sid in (int(s) for s in ids.split(",") if s):
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped stages have no attempt
                    continue
                agg["task_s"] += st.executorRunTime() / 1000.0
                agg["shuffle_write_bytes"] += st.shuffleWriteBytes()
                agg["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                agg["output_bytes"] += st.outputBytes()
        return out

    # ---- output ------------------------------------------------------------
    def dump(self, path: str, extra: dict):
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self_times(self.spans), **extra}, f,
                      indent=1, default=str)


def self_times(spans: list) -> dict:
    """Per span name: summed duration minus the time its child spans cover."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + (s["end"] - s["start"])
    out: dict = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child.get(s["id"], 0.0)
    return out


_NODE = re.compile(r"^[\s:|+\-]*([A-Za-z]+)")


def plan_counts(spark, df) -> dict:
    """Exchange, BroadcastExchange and Union nodes of ``df``'s physical plan."""
    text = spark.sparkContext._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    names = [m.group(1) for m in map(_NODE.match, text.splitlines()) if m]
    return {
        "plan.exchanges": names.count("Exchange"),
        "plan.broadcasts": names.count("BroadcastExchange"),
        "plan.unions": names.count("Union"),
    }
