"""Layer tracing from outside the package, through Spark's public status APIs.

Nothing here is called in an untraced run. A traced operation runs under
its own job group; afterwards the jobs of that group are looked up with
``statusTracker().getJobIdsForGroup`` and their stages in the app status
store, which Spark fills whether or not the UI is enabled. Catalyst phase
times come from the final plan's ``QueryPlanningTracker``. Streaming
layers come from ``StreamingQueryProgress`` records.

Every call the tracer makes after an operation is timed into
``overhead_s``, so a traced run can report its own cost.
"""

from __future__ import annotations

import time
from collections import defaultdict


def durations(t0: float, marks: dict[str, float]) -> dict[str, float]:
    """Turn ordered ``perf_counter`` marks into the seconds each phase took,
    the first counted from ``t0``."""
    out, prev = {}, t0
    for name, t in marks.items():
        out[name] = round(t - prev, 3)
        prev = t
    return out


class StageTotals:
    """Scheduler and executor counters summed over a set of jobs."""

    FIELDS = (
        "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
        "executor.run_ms", "executor.cpu_ms", "executor.gc_ms",
        "executor.shuffle_write_bytes", "executor.input_bytes",
    )

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()

    def for_groups(self, groups: list[str],
                   skip: frozenset[int] = frozenset()) -> dict[str, float]:
        """Totals over the jobs of ``groups``, apart from the ids in ``skip``."""
        out = dict.fromkeys(self.FIELDS, 0.0)
        tracker = self._sc.statusTracker()
        for group in groups:
            for job_id in tracker.getJobIdsForGroup(group):
                info = None if job_id in skip else tracker.getJobInfo(job_id)
                if info is None:
                    continue
                out["scheduler.jobs"] += 1
                for stage_id in info.stageIds:
                    sd = self._store.lastStageAttempt(stage_id)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    out["scheduler.stages"] += 1
                    out["scheduler.tasks"] += sd.numTasks()
                    out["executor.run_ms"] += sd.executorRunTime()
                    out["executor.cpu_ms"] += sd.executorCpuTime() / 1e6
                    out["executor.gc_ms"] += sd.jvmGcTime()
                    out["executor.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["executor.input_bytes"] += sd.inputBytes()
        return out


def planning_phases(df) -> dict[str, float]:
    """Catalyst analysis/optimization/planning ms of ``df``'s last execution."""
    out = {"catalyst.analysis_ms": 0.0, "catalyst.optimization_ms": 0.0,
           "catalyst.planning_ms": 0.0}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        key = f"catalyst.{kv._1()}_ms"
        if key in out:
            out[key] = float(kv._2().durationMs())
    return out


class QueryTracer:
    """Per-operation layer profile of a closed query loop.

    ``begin(op)`` runs before the plan is built, ``built(op)`` between the
    build and the result action, and ``end(op, df, rows)`` after it. The
    first two only switch the job group; lookups happen in ``end``, after
    the operation's own timer has stopped.
    """

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._stages = StageTotals(spark)
        self.per_op: list[dict[str, float]] = []
        self.overhead_s = 0.0

    def begin(self, op: int) -> None:
        self._sc.setJobGroup(f"pb-build-{op}", "perfbench build")

    def built(self, op: int) -> None:
        self._sc.setJobGroup(f"pb-action-{op}", "perfbench action")

    def end(self, op: int, df, rows: int, build_s: float, action_s: float) -> None:
        t0 = time.perf_counter()
        self._sc._jsc.clearJobGroup()
        rec = self._stages.for_groups([f"pb-build-{op}", f"pb-action-{op}"])
        rec["queries.eager_jobs"] = float(
            len(self._sc.statusTracker().getJobIdsForGroup(f"pb-build-{op}"))
        )
        rec.update(planning_phases(df))
        rec["queries.build_ms"] = build_s * 1e3
        rec["transfer.action_ms"] = action_s * 1e3
        rec["transfer.result_rows"] = float(rows)
        self.per_op.append(rec)
        self.overhead_s += time.perf_counter() - t0

    def per_pass(self, n_passes: int) -> dict[str, float]:
        """Totals over the traced operations, divided by the pass count."""
        tot: dict[str, float] = defaultdict(float)
        for rec in self.per_op:
            for k, v in rec.items():
                tot[k] += v
        return {k: v / max(n_passes, 1) for k, v in tot.items()}


def state_totals(queries: list[list]) -> dict[str, float]:
    """State-store figures of stateful queries, given each query's progress
    records: rows and memory held after its last batch, rows updated and
    commit time summed over all batches."""
    out = {"state.rows_total": 0.0, "state.memory_bytes": 0.0,
           "state.rows_updated": 0.0, "state.commit_ms": 0.0}
    for progress in queries:
        for p in progress:
            for op in p.stateOperators:
                out["state.rows_updated"] += op.numRowsUpdated
                out["state.commit_ms"] += op.commitTimeMs
        if progress:
            for op in progress[-1].stateOperators:
                out["state.rows_total"] += op.numRowsTotal
                out["state.memory_bytes"] += op.memoryUsedBytes
    return out
