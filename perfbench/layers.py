"""The traced run: one more call of each job with spans on, then the layer
probes, reduced to the per-layer metrics of ``spec.PER_LAYER``.

The first job is the workload's own; the others are its companions
(``spec.TRACE_COMPANIONS``), jobs whose layers no timed workload runs.  A
companion gets one untraced warm-up call first.  A metric of a layer that
none of the jobs runs reads 0.
"""

from __future__ import annotations

import time

from perfbench import probes
from perfbench.spec import JOB_SPANS, PER_LAYER
from perfbench.trace import TASK_METRICS, Tracer

ROOT_SPAN = {"run_extract": "flagship.job", "run_extract_web": "web.job", "run_curate": "curate.job"}


def _sum(spans: list[dict], key: str) -> float:
    return float(sum(s.get(key, 0.0) for s in spans))


def _traced_call(tracer: Tracer, job) -> dict:
    job.prepare()
    tracer.install()
    if job.w.job == "run_curate":
        # run_curate's partitioned write forces the lazy curation plan
        from pyspark.sql import DataFrameWriter

        tracer.spanned(DataFrameWriter, "parquet", "curate.write")
    try:
        with tracer.span(ROOT_SPAN[job.w.job]) as root:
            root["epoch_start_ms"] = time.time() * 1000
            job.call()
            root["epoch_end_ms"] = time.time() * 1000
    finally:
        tracer.uninstall()
    return root


def _probe(tracer: Tracer, spark, job) -> dict:
    """Readings of the traced call's output, then the job's layer probes."""
    from pyspark.sql import functions as F

    from cloud_ocr_summarizer_spark.sources.checkpoint import SnapshotSink

    main = job.paths["main"]
    if job.w.job == "run_curate":
        rows = spark.read.parquet(job.output).count()
        return probes.curate(tracer, spark, main, rows)
    if job.w.job == "run_extract_web":
        return probes.web(tracer, spark, main, job.w.repartition)
    lin = SnapshotSink(job.lineage).read_committed(spark)
    lineage_wall = 0.0 if lin is None else lin.agg(F.sum("wall_time_s")).first()[0] or 0.0
    job.prepare()  # the sink as the call found it: empty, or the pre-state
    found = probes.flagship(tracer, spark, main, job.output)
    found["_lineage_wall_s"] = lineage_wall
    return found


def unattributed_share(tracer: Tracer, roots: list[dict]) -> float:
    """Share of the executor run time of the traced calls that belongs to
    Spark jobs under no layer span: jobs with no job group, and jobs whose
    innermost span is a call's root span (issued by the job script itself,
    outside every wrapped layer function).  Valid after ``collect``."""
    root_ids = {r["id"] for r in roots}
    layered = [
        s
        for s in tracer.spans
        if s["id"] not in root_ids
        and any(r["start"] <= s["start"] and s["end"] <= r["end"] for r in roots)
    ]
    unattributed = _sum(roots, "run_s") + sum(
        tracer.unattributed_run_s(r["epoch_start_ms"], r["epoch_end_ms"]) for r in roots
    )
    total = _sum(layered, "run_s") + unattributed
    return unattributed / total if total else 0.0


def traced_run(spark, jobs: list, untraced_docs_per_s: float, session_s: float,
               trace_path: str) -> dict:
    tracer = Tracer(spark)
    found: dict = {}
    roots = []
    for k, job in enumerate(jobs):
        if k:
            job.prepare()
            job.call()
        roots.append(_traced_call(tracer, job))
        found.update(_probe(tracer, spark, job))
    tracer.collect()

    spans = tracer.spans
    named = lambda *names: [s for s in spans if s["name"] in names]  # noqa: E731
    by_id = {s["id"]: s for s in spans}

    def in_flagship(span: dict) -> bool:
        """The checkpoint and lineage metrics are the flagship job's; a
        companion's sink writes do not count toward them."""
        while span["parent"] is not None:
            span = by_id[span["parent"]]
            if span["name"] == "flagship.run":
                return True
        return False

    flagship_named = lambda *names: [s for s in named(*names) if in_flagship(s)]  # noqa: E731
    kinds = {job.w.job for job in jobs}
    m = {name: 0.0 for name in PER_LAYER}
    m.update({k: float(v) for k, v in found.items() if k in m})
    m["session.start_s"] = session_s
    root = roots[0]
    n_docs = jobs[0].n_docs
    traced_docs_per_s = n_docs / (root["end"] - root["start"])
    m["trace.overhead_docs_per_s"] = traced_docs_per_s - untraced_docs_per_s

    if "run_extract" in kinds:
        m["extract.cpu_s"] = by_id[found["_extract_span"]]["cpu_s"]
        run = named("flagship.run")
        m["flagship.count_s"] = _sum(run, "job_wall_s")
        m["flagship.persist_mb"] = max(
            (s["persist_mb"] for s in flagship_named("checkpoint.append")), default=0.0
        )
        run_s = _sum(run, "run_s")
        m["lineage.timed_share"] = found["_lineage_wall_s"] / run_s if run_s else 0.0
    if "run_extract_web" in kinds:
        skew = by_id[found["_skew_span"]]
        m["skew.shuffle_write_mb"] = skew["shuffle_write_mb"]
        m["skew.task_max_over_median"] = skew["reduce_task_max_over_median"]
        run = named("web.run")
        m["web.python_total_s"] = _sum(run, "python_total_s")
        m["web.python_boot_s"] = _sum(run, "python_boot_s")
        m["web.arrow_mb"] = _sum(run, "arrow_sent_mb") + _sum(run, "arrow_received_mb")
        m["web.count_s"] = _sum(run, "job_wall_s")
    if "run_curate" in kinds:
        cur = named("curate.job", "curate.write")
        m["curate.shuffle_mb"] = _sum(cur, "shuffle_write_mb")
        m["curate.spill_mb"] = _sum(cur, "spill_mb")

    appends = flagship_named("checkpoint.append")
    m["checkpoint.append_s"] = sum(s["end"] - s["start"] for s in appends)
    m["checkpoint.append_mb"] = _sum(appends, "mb")
    m["checkpoint.append_files"] = _sum(appends, "files")
    m["lineage.s"] = sum(
        s["end"] - s["start"]
        for s in flagship_named("lineage.partition_metrics", "lineage.append")
    )
    for name in JOB_SPANS:
        group = flagship_named(name) if name.startswith(("checkpoint.", "lineage.")) else named(name)
        for key in TASK_METRICS:
            if key == "task_max_over_median":
                m[f"{name}.{key}"] = max((s[key] for s in group), default=0.0)
            else:
                m[f"{name}.{key}"] = _sum(group, key)

    m["trace.unattributed_share"] = unattributed_share(tracer, roots)

    tracer.write(trace_path)
    table = [
        [name, calls, tot, own, _sum(named(name), "run_s"), int(_sum(named(name), "jobs"))]
        for name, (calls, tot, own) in sorted(tracer.self_times().items())
    ]
    return {
        "per_layer": m,
        "layer_table": table,
        "trace_file": trace_path,
        "traced_docs_per_s": traced_docs_per_s,
        "gates_agree": found.get("_gates_agree", True),
    }
