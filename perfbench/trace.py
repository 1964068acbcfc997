"""Spans around the package's public layer functions, attributed to the
Spark jobs they issue.

``Tracer.install`` replaces the public functions the jobs call with
wrappers that open a span for the call.  Each span sets its own Spark job
group, so every job runs under the innermost open span, and ``collect``
reads the jobs' stage and task metrics back from Spark's status store
(``statusStore().jobsList/stageList/taskList``) and the SQL metrics of
their executions.  Nothing in the package is edited; ``uninstall`` puts
the original functions back.

Spans stay in memory and are written out once, by ``write``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import statistics
import time
from typing import Any

from pyspark.sql import SparkSession

GROUP_PREFIX = "perfbench:"

# Per-span Spark task metrics reported for the spans that issue jobs.
TASK_METRICS = (
    "run_s",
    "cpu_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "tasks",
    "task_max_over_median",
)

# SQL metric names of the Python (Arrow/pandas) operators.
PY_METRICS = {
    "time to run Python workers": "python_total_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "arrow_sent_mb",
    "data returned from Python workers": "arrow_received_mb",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024**2 / 1e6,
    "GiB": 1024**3 / 1e6, "TiB": 1024**4 / 1e6,
}
_VALUE = re.compile(r"([0-9.]+)\s*([A-Za-z]+)")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted timing or size metric, in s or MB.  Spark
    formats them as 'total (min, med, max ...)\\n4.7 s (1.2 s, ...)'."""
    m = _VALUE.match(text.strip().splitlines()[-1])
    if not m or m.group(2) not in _UNITS:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    return float(m.group(1)) * _UNITS[m.group(2)]


def _opt(scala_option):
    return scala_option.get() if scala_option.isDefined() else None


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class Tracer:
    """Spans of one process; see the module docstring."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self._undo: list[tuple[Any, str, Any]] = []
        self._lineage_frames: set[int] = set()

    # -- spans ---------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec: dict[str, Any] = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", f"{GROUP_PREFIX}{sid}", False)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                gid = f"{GROUP_PREFIX}{self._stack[-1]}"
                self.sc.setJobGroup(gid, gid, False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _patch(self, owner: Any, attr: str, wrapper_factory) -> None:
        original = getattr(owner, attr)
        self._undo.append((owner, attr, original))
        setattr(owner, attr, functools.wraps(original)(wrapper_factory(original)))

    def _spanned(self, name: str, *, lineage: bool = False):
        def factory(fn):
            def wrapper(*args, **kwargs):
                with self.span(name):
                    out = fn(*args, **kwargs)
                if lineage:
                    self._lineage_frames.add(id(out))
                return out

            return wrapper

        return factory

    def _append_factory(self, fn):
        tracer = self

        def append(sink, df, *args, **kwargs):
            name = (
                "lineage.append"
                if id(df) in tracer._lineage_frames
                else "checkpoint.append"
            )
            with tracer.span(name) as rec:
                rec["persist_mb"] = tracer._cached_mb()
                snapshot_id = fn(sink, df, *args, **kwargs)
            path = os.path.join(sink.root, f"snap={snapshot_id}")
            files = [
                os.path.join(d, f)
                for d, _, fs in os.walk(path)
                for f in fs
                if f.endswith(".parquet")
            ]
            rec["files"] = len(files)
            rec["mb"] = sum(os.path.getsize(f) for f in files) / 1e6
            return snapshot_id

        return append

    def spanned(self, owner: Any, attr: str, name: str) -> None:
        """Wrap ``owner.attr`` in a span called ``name`` until ``uninstall``."""
        self._patch(owner, attr, self._spanned(name))

    def install(self) -> Tracer:
        from cloud_ocr_summarizer_spark.operators import skew
        from cloud_ocr_summarizer_spark.plans import curate, extract_web, flagship
        from cloud_ocr_summarizer_spark.sources import checkpoint

        # Module globals are patched where the caller looks them up: the
        # flagship plan binds its imports at import time, run_web imports
        # checkpoint and skew functions at call time.
        for owner, attr, name in (
            (flagship, "run_flagship", "flagship.run"),
            (extract_web, "run_web", "web.run"),
            (flagship, "pending_docs", "checkpoint.pending"),
            (checkpoint, "pending_docs", "checkpoint.pending"),
            (checkpoint.SnapshotSink, "read_committed", "checkpoint.read_committed"),
            (flagship, "extract_spans", "extract.extract_spans"),
            (extract_web, "extract_spans", "extract.extract_spans"),
            (flagship, "salted_repartition", "skew.salted_repartition"),
            (skew, "salted_repartition", "skew.salted_repartition"),
            (extract_web, "extract_web_documents_fused", "web.pipeline"),
            (curate, "curate_documents", "curate.curate_documents"),
            (curate, "exact_duplicates", "dedup.exact_duplicates"),
            (curate, "minhash_lsh_pairs", "dedup.minhash_lsh_pairs"),
        ):
            self.spanned(owner, attr, name)
        for owner, attr in (
            (flagship, "timed_partition_metrics"),
            (extract_web, "web_partition_metrics"),
        ):
            self._patch(owner, attr, self._spanned("lineage.partition_metrics", lineage=True))
        self._patch(checkpoint.SnapshotSink, "append", self._append_factory)
        return self

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    def _cached_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 1e6

    # -- Spark metrics ---------------------------------------------------------
    def collect(self) -> None:
        """Attach each span's Spark jobs, stage metrics and SQL metrics."""
        store = self.sc._jsc.sc().statusStore()
        by_span: dict[int, list] = {}
        ungrouped = []
        for job in _seq(store.jobsList(None)):
            group = _opt(job.jobGroup())
            if group and group.startswith(GROUP_PREFIX):
                by_span.setdefault(int(group[len(GROUP_PREFIX):]), []).append(job)
            else:
                ungrouped.append(job)
        empty = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        stages = {}
        for st in _seq(store.stageList(None, False, False, empty, None)):
            stages.setdefault(st.stageId(), []).append(st)
        self._ungrouped = [
            (
                _opt(j.submissionTime()).getTime() if _opt(j.submissionTime()) else 0,
                sum(
                    a.executorRunTime()
                    for sid in _seq(j.stageIds())
                    for a in stages.get(sid, [])
                )
                / 1e3,
            )
            for j in ungrouped
        ]
        sql_by_group = self._sql_metrics()
        for rec in self.spans:
            jobs = by_span.get(rec["id"], [])
            stage_ids = {sid for j in jobs for sid in _seq(j.stageIds())}
            attempts = [a for sid in stage_ids for a in stages.get(sid, [])]
            rec["jobs"] = len(jobs)
            rec["job_wall_s"] = sum(
                (_opt(j.completionTime()).getTime() - _opt(j.submissionTime()).getTime())
                / 1e3
                for j in jobs
                if _opt(j.completionTime()) and _opt(j.submissionTime())
            )
            rec["run_s"] = sum(a.executorRunTime() for a in attempts) / 1e3
            rec["cpu_s"] = sum(a.executorCpuTime() for a in attempts) / 1e9
            rec["gc_s"] = sum(a.jvmGcTime() for a in attempts) / 1e3
            rec["shuffle_read_mb"] = sum(a.shuffleReadBytes() for a in attempts) / 1e6
            rec["shuffle_write_mb"] = sum(a.shuffleWriteBytes() for a in attempts) / 1e6
            rec["spill_mb"] = (
                sum(a.memoryBytesSpilled() + a.diskBytesSpilled() for a in attempts) / 1e6
            )
            rec["tasks"] = sum(a.numCompleteTasks() for a in attempts)
            rec["task_max_over_median"] = 0.0
            rec["reduce_task_max_over_median"] = 0.0
            if attempts:
                heavy = max(attempts, key=lambda a: a.executorRunTime())
                rec["task_max_over_median"] = self._task_balance(store, heavy)
                reduce = [a for a in attempts if a.shuffleReadBytes() > 0]
                if reduce:
                    heavy = max(reduce, key=lambda a: a.executorRunTime())
                    rec["reduce_task_max_over_median"] = self._task_balance(store, heavy)
            rec.update(sql_by_group.get(f"{GROUP_PREFIX}{rec['id']}", {}))

    def unattributed_run_s(self, start_ms: float, end_ms: float) -> float:
        """Executor run time of jobs submitted in [start_ms, end_ms] (epoch)
        under no span; valid after ``collect``."""
        return sum(run for t, run in self._ungrouped if start_ms <= t <= end_ms)

    @staticmethod
    def _task_balance(store, stage) -> float:
        runs = [
            _opt(t.taskMetrics()).executorRunTime()
            for t in _seq(store.taskList(stage.stageId(), stage.attemptId(), 1 << 20))
            if t.status() == "SUCCESS" and _opt(t.taskMetrics()) is not None
        ]
        med = statistics.median(runs) if runs else 0
        return max(runs) / med if med > 0 else 0.0

    def _sql_metrics(self) -> dict[str, dict[str, float]]:
        """Python-operator SQL metrics summed per job group (executions
        carry the group id as their description)."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        out: dict[str, dict[str, float]] = {}
        for ex in _seq(sql.executionsList()):
            desc = ex.description() or ""
            if not desc.startswith(GROUP_PREFIX):
                continue
            values = sql.executionMetrics(ex.executionId())
            seen: set[int] = set()
            acc = out.setdefault(desc, {})
            for m in _seq(ex.metrics()):
                key = PY_METRICS.get(m.name())
                if key is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                text = _opt(values.get(m.accumulatorId()))
                if text:
                    acc[key] = acc.get(key, 0.0) + parse_sql_metric(text)
        return out

    # -- reports -------------------------------------------------------------
    def self_times(self) -> dict[str, tuple[int, float, float]]:
        """name -> (calls, total s, self s); self time is a span's duration
        minus the time its direct children cover (children run in turn)."""
        child_s: dict[int, float] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                child_s[rec["parent"]] = child_s.get(rec["parent"], 0.0) + (
                    rec["end"] - rec["start"]
                )
        out: dict[str, tuple[int, float, float]] = {}
        for rec in self.spans:
            total = rec["end"] - rec["start"]
            calls, tot, own = out.get(rec["name"], (0, 0.0, 0.0))
            out[rec["name"]] = (
                calls + 1,
                tot + total,
                own + total - child_s.get(rec["id"], 0.0),
            )
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": self.spans}, f, indent=1)
