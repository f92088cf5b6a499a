"""Layer tracing for the benchmark, done entirely from outside the engine.

`Tracer.install()` wraps the public entry points of each engine module
(`sql_dialect.rewrite`, `Engine.sql`, `catalog.read_parquet_table`, the
`ParquetTable` DML methods) and py4j's method dispatch. While
`Tracer.enabled` is false the wrappers only forward the call. While it
is true they record a span per call: name, start, end, parent span and
statement id, plus the py4j calls made inside it. Spans stay in memory
and are written out once, by `Tracer.dump`, when the run ends.

`StatementProbe` reads what Spark itself kept about one statement after
it finished: Catalyst phase times and intervals from the statement's own
`QueryExecution.tracker()`, operator counts from its AQE-final plan, and
job intervals and per-stage executor metrics from the status store for
the statement's job group.
"""

from __future__ import annotations

import functools
import json
import re
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.stmt: str | None = None
        self.py4j_calls = 0

    # ------------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "stmt": self.stmt,
            "start": time.time(),
            "py4j0": self.py4j_calls,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            rec["py4j"] = self.py4j_calls - rec.pop("py4j0")

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    # ----------------------------------------------------------- install
    def install(self) -> None:
        import py4j.java_gateway as jg

        from warehouse_pg_spark import catalog, sql_dialect
        from warehouse_pg_spark.engine import Engine
        from warehouse_pg_spark.operators.dml import ParquetTable

        sql_dialect.rewrite = self.wrap("sql_dialect.rewrite", sql_dialect.rewrite)
        catalog.read_parquet_table = self.wrap(
            "catalog.read_parquet_table", catalog.read_parquet_table
        )
        Engine.sql = self.wrap("engine.sql", Engine.sql)
        for meth in ("read", "insert", "_swap_in", "delete", "update", "merge", "compact"):
            setattr(
                ParquetTable,
                meth,
                self.wrap(f"operators.dml.{meth.lstrip('_')}", getattr(ParquetTable, meth)),
            )

        tracer = self
        call = jg.JavaMember.__call__

        def counting_call(member, *args):
            if tracer.enabled:
                tracer.py4j_calls += 1
            return call(member, *args)

        jg.JavaMember.__call__ = counting_call

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> seconds not covered by its child spans."""
    child = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] is not None and s["parent"] in child:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


_PLAN_NODES = {
    "exchanges": re.compile(r"\bExchange (?:hashpartitioning|rangepartitioning|"
                            r"RoundRobinPartitioning|SinglePartition|single)", re.I),
    "reused_exchanges": re.compile(r"\bReusedExchange\b"),
    "broadcast_joins": re.compile(r"\bBroadcast(?:HashJoin|NestedLoopJoin)\b"),
    "python_evals": re.compile(r"\b(?:BatchEvalPython|ArrowEvalPython|"
                               r"FlatMapGroupsInPandas|MapInPandas|MapInArrow|"
                               r"AggregateInPandas|WindowInPandas)\b"),
}

_STAGE_FIELDS = (
    ("exec.run_ms", "executorRunTime", 1.0),
    ("exec.cpu_ms", "executorCpuTime", 1e-6),
    ("exec.gc_ms", "jvmGcTime", 1.0),
    ("exec.input_bytes", "inputBytes", 1.0),
    ("exec.shuffle_read_bytes", "shuffleReadBytes", 1.0),
    ("exec.shuffle_write_bytes", "shuffleWriteBytes", 1.0),
    ("exec.output_bytes", "outputBytes", 1.0),
)


class StatementProbe:
    """Reads Spark's own record of a finished statement. It runs while
    the tracer is disabled, so its JVM calls are not counted."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def catalyst(self, df) -> dict[str, float]:
        out = {}
        qe = df._jdf.queryExecution()
        phases = qe.tracker().phases()
        out["catalyst.intervals"] = []
        for p in ("parsing", "analysis", "optimization", "planning"):
            o = phases.get(p)
            out[f"catalyst.{p}_ms"] = float(o.get().durationMs()) if o.isDefined() else 0.0
            if o.isDefined():
                out["catalyst.intervals"].append(
                    (o.get().startTimeMs() / 1000.0, o.get().endTimeMs() / 1000.0))
        plan = qe.executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        for key, rx in _PLAN_NODES.items():
            out[f"plan.{key}"] = float(len(rx.findall(final)))
        out["plan.adaptive"] = plan.startswith("AdaptiveSparkPlan")
        out["plan.final"] = 1.0 if "isFinalPlan=true" in plan else 0.0
        return out

    def jobs(self, group: str) -> list[dict]:
        """Every job of the group with its submission and completion times
        and the summed metrics of the stages it ran (skipped stages count
        nothing)."""
        jobs = []
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            rec = {
                "job": jid,
                "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
                "completed": done.get().getTime() / 1000.0 if done.isDefined() else 0.0,
                "exec.stages": 0.0,
                "exec.tasks": 0.0,
                "exec.failed_tasks": 0.0,
                "exec.spill_bytes": 0.0,
                **{k: 0.0 for k, _, _ in _STAGE_FIELDS},
            }
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                try:
                    s = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a stage that never started has no attempt
                    continue
                if s.status().toString() == "SKIPPED":
                    continue
                rec["exec.stages"] += 1
                rec["exec.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                rec["exec.failed_tasks"] += s.numFailedTasks()
                rec["exec.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                for key, attr, scale in _STAGE_FIELDS:
                    rec[key] += getattr(s, attr)() * scale
            jobs.append(rec)
        return jobs
