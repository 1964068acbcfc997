"""Workloads and metric names.  BENCHMARK.json lists the same names; the
benchmark's tests keep the two in step."""

from __future__ import annotations

from dataclasses import dataclass

from perfbench.trace import TASK_METRICS


@dataclass(frozen=True)
class Workload:
    name: str
    job: str  # script under jobs/
    corpus: str  # inputs.CORPORA key
    n_docs: int
    resume: bool = False
    repartition: int | None = None
    # untimed calls after the first, until this many seconds have passed:
    # jobs with big plans and Python stages take several calls to warm up
    warm_s: float = 0.0


WORKLOADS = {
    w.name: w
    for w in (
        Workload("flagship_cold", "run_extract", "spans", 48000, warm_s=10),
        Workload("flagship_resume", "run_extract", "spans", 48000, resume=True, warm_s=10),
        Workload("web_salted", "run_extract_web", "documents", 4000, repartition=16, warm_s=25),
        Workload("curate", "run_curate", "documents", 10000, warm_s=25),
    )
}

# Jobs the traced run of a workload also runs, each on its own seeded
# input: web_salted and curate have no timed workload in BENCHMARK.json,
# so their layers are measured in the flagship workloads' traced runs.
TRACE_COMPANIONS = {"flagship_cold": ("web_salted",), "flagship_resume": ("curate",)}

# name -> (unit, better)
END_TO_END = {
    "docs_per_s": ("docs/s", "higher"),
    "cpu_s_per_kdoc": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "setup_s": ("s", "lower"),
}
# printed with the others, but not a JSON metric: it is 0 whenever the
# program is right, so it is reported as failed/attempted instead
DOC_FAIL_FRAC = ("doc_fail_frac", "ratio")

# Spans whose Spark jobs get the per-span task metrics.
JOB_SPANS = (
    "flagship.run",
    "web.run",
    "curate.write",
    "checkpoint.append",
    "lineage.append",
)

PER_LAYER = {
    "session.start_s": "s",
    "checkpoint.pending_s": "s",
    "checkpoint.committed_ids": "count",
    "checkpoint.manifest_snapshots": "count",
    "checkpoint.append_s": "s",
    "checkpoint.append_mb": "MB",
    "checkpoint.append_files": "count",
    "extract.probe_s": "s",
    "extract.cpu_s": "s",
    "extract.spans_out": "count",
    "flagship.count_s": "s",
    "flagship.persist_mb": "MB",
    "lineage.s": "s",
    "lineage.timed_share": "ratio",
    "skew.shuffle_write_mb": "MB",
    "skew.task_max_over_median": "ratio",
    "web.python_total_s": "s",
    "web.python_boot_s": "s",
    "web.arrow_mb": "MB",
    "web.count_s": "s",
    "dedup.exact_probe_s": "s",
    "dedup.minhash_probe_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.pair_yield": "ratio",
    "curate.rows.input": "count",
    "curate.rows.exact": "count",
    "curate.rows.near_dup": "count",
    "curate.rows.quality": "count",
    "curate.rows.repetition": "count",
    "curate.rows.split": "count",
    "curate.shuffle_mb": "MB",
    "curate.spill_mb": "MB",
    "trace.overhead_docs_per_s": "docs/s",
    "trace.unattributed_share": "ratio",
}
_TASK_UNITS = {"tasks": "count", "task_max_over_median": "ratio"}
for _span in JOB_SPANS:
    for _m in TASK_METRICS:
        PER_LAYER[f"{_span}.{_m}"] = _TASK_UNITS.get(_m, "MB" if _m.endswith("_mb") else "s")
