"""Per-layer counters read from outside the engine: Spark's status store for
jobs, stages and tasks, and the physical plan string for Catalyst's node
counts.

Every job the status store saw during one query call is attributed to that
call. The harness tags its own three phases with job groups
(``<prefix>build``, ``<prefix>plan``, ``<prefix>exec``); a job without one
of those groups ran on a thread the harness did not drive, which for the
engine means a streaming query's micro-batch thread (``StreamExecution``
sets its own group per run).
"""

from __future__ import annotations

import re

from py4j.protocol import Py4JJavaError

#: physical operators that cross into a Python worker
PYTHON_EVAL_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "ArrowEvalPythonUDTF",
    "BatchEvalPythonUDTF", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas", "FlatMapCoGroupsInArrow", "MapInPandas",
    "MapInArrow", "PythonMapInArrow", "AggregateInPandas", "ArrowAggregatePython",
    "WindowInPandas", "ArrowWindowPython", "FlatMapGroupsInPandasWithState",
    "TransformWithStateInPandas",
)
_NODE = re.compile(r"^[\s:|+\-]*(\*\(\d+\)\s*)?([A-Za-z]+)")
_EXCHANGES = ("Exchange", "ShuffleExchange", "BroadcastExchange")


def plan_node_counts(plan_text: str) -> dict[str, int]:
    """Exchange and Python-eval node counts of a physical plan's tree
    string, one node per line (``AdaptiveSparkPlan`` shows its initial
    plan before execution)."""
    exchanges = python_eval = 0
    for line in plan_text.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        node = m.group(2)
        if node in _EXCHANGES:
            exchanges += 1
        elif node in PYTHON_EVAL_NODES:
            python_eval += 1
    return {"exchanges": exchanges, "python_eval_nodes": python_eval}


def is_schema_job(job_name: str) -> bool:
    """A parquet read's schema-inference job, named after the read call."""
    return job_name.startswith("parquet at ")


class JobCounter:
    """Reads the jobs (and their stages) that ran since the last mark."""

    def __init__(self, sc):
        self._store = sc._jsc.sc().statusStore()
        self._seen_stages: set[int] = set()
        self.mark()

    def _latest_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def mark(self) -> None:
        self._hi = self._latest_job_id()

    def collect(self, group_prefix: str) -> dict:
        """Counters for every job newer than the mark, then re-mark.

        Stages are counted once, by the attempt that ran (skipped stages
        have no task data), so a shuffle reused by a later job is not
        counted twice.
        """
        jobs = self._store.jobsList(None)
        out = {
            "build_jobs": 0, "schema_jobs": 0, "plan_jobs": 0, "exec_jobs": 0,
            "stream_jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
            "input_mb": 0.0,
        }
        hi = self._hi
        stage_ids: list[int] = []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self._hi:
                break  # the list is newest first
            hi = max(hi, jid)
            group = job.jobGroup()
            phase = group.get() if group.isDefined() else ""
            if phase == group_prefix + "build":
                out["build_jobs"] += 1
                if is_schema_job(job.name()):
                    out["schema_jobs"] += 1
            elif phase == group_prefix + "plan":
                out["plan_jobs"] += 1
            elif phase == group_prefix + "exec":
                out["exec_jobs"] += 1
            else:
                out["stream_jobs"] += 1
            sids = job.stageIds()
            stage_ids.extend(sids.apply(k) for k in range(sids.size()))
        for sid in stage_ids:
            if sid in self._seen_stages:
                continue
            self._seen_stages.add(sid)
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # NoSuchElementException: the stage never ran
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
            out["input_mb"] += sd.inputBytes() / 1e6
        self._hi = hi
        return out
