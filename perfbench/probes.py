"""Layer probes for the traced run.

The layer functions are lazy: a call only builds a plan, so its span times
plan building.  A probe forces one layer alone to a ``noop`` sink on the
workload's input, under its own span, so the span's Spark jobs carry that
layer's real cost.  The curation gate counts re-run the stages of
``plans.curate.curate_documents`` one at a time with the job's arguments;
the last count is cross-checked against the job's own output.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from perfbench.trace import Tracer

# run_curate's defaults and the MinHash settings curate_documents uses
MIN_QUALITY = 3000
NEARDUP_THRESHOLD = 0.8
MINHASH = dict(n=3, num_hashes=32, bands=8)


def _noop(df: DataFrame) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def flagship(tracer: Tracer, spark: SparkSession, main: str, sink_root: str) -> dict:
    """Extraction alone, and the resume filter against the sink as the job
    found it (empty when cold; ~90% of the docs committed on resume)."""
    from cloud_ocr_summarizer_spark.operators.extract import extract_spans
    from cloud_ocr_summarizer_spark.sources.checkpoint import SnapshotSink, pending_docs

    docs = spark.read.parquet(main)
    out: dict[str, float] = {}
    obs = Observation("spans_out")
    with tracer.span("probe.extract") as rec:
        out["extract.probe_s"] = _noop(
            extract_spans(docs, min_confidence=0.0).observe(
                obs, F.sum(F.size("spans_out")).alias("spans")
            )
        )
    out["extract.spans_out"] = float(obs.get["spans"] or 0)
    out["_extract_span"] = rec["id"]

    sink = SnapshotSink(sink_root)
    with tracer.span("probe.pending"):
        out["checkpoint.pending_s"] = _noop(pending_docs(docs, sink, spark))
    done = sink.read_committed(spark)
    out["checkpoint.committed_ids"] = float(
        0 if done is None else done.select("doc_id").distinct().count()
    )
    out["checkpoint.manifest_snapshots"] = float(len(sink.snapshots()))
    return out


def web(tracer: Tracer, spark: SparkSession, main: str, partitions: int) -> dict:
    from cloud_ocr_summarizer_spark.operators.skew import salted_repartition

    with tracer.span("probe.skew") as rec:
        _noop(salted_repartition(spark.read.parquet(main), partitions))
    return {"_skew_span": rec["id"]}


def curate(tracer: Tracer, spark: SparkSession, main: str, job_rows: int) -> dict:
    from cloud_ocr_summarizer_spark.operators.dedup import (
        exact_duplicates,
        minhash_lsh_pairs,
    )
    from cloud_ocr_summarizer_spark.operators.textstats import (
        quality_score_col,
        repetition_flagged_col,
    )

    docs = spark.read.parquet(main)
    par = spark.sparkContext.defaultParallelism
    out: dict[str, float] = {"curate.rows.input": float(docs.count())}
    with tracer.span("probe.dedup_exact"):
        out["dedup.exact_probe_s"] = _noop(exact_duplicates(docs))
    kept = docs.join(
        exact_duplicates(docs).select(F.col("keeper").alias("doc_id")),
        "doc_id",
        "left_semi",
    ).persist()
    try:
        out["curate.rows.exact"] = float(kept.count())
        with tracer.span("probe.dedup_minhash"):
            pairs = minhash_lsh_pairs(
                kept, threshold=NEARDUP_THRESHOLD, parallelism=par, **MINHASH
            ).persist()
            t0 = time.perf_counter()
            n_pairs = pairs.count()
            out["dedup.minhash_probe_s"] = time.perf_counter() - t0
        candidates = minhash_lsh_pairs(
            kept, threshold=0.0, parallelism=par, **MINHASH
        ).count()
        out["dedup.candidate_pairs"] = float(candidates)
        out["dedup.pair_yield"] = n_pairs / candidates if candidates else 0.0
        gated = kept.join(
            pairs.select(F.col("id_b").alias("doc_id")).distinct(), "doc_id", "left_anti"
        )
        out["curate.rows.near_dup"] = float(gated.count())
        gated = gated.filter(quality_score_col(F.col("text")) >= MIN_QUALITY)
        out["curate.rows.quality"] = float(gated.count())
        gated = gated.filter(
            ~F.coalesce(repetition_flagged_col(F.col("text")), F.lit(False))
        )
        out["curate.rows.repetition"] = float(gated.count())
        pairs.unpersist()
    finally:
        kept.unpersist()
    out["curate.rows.split"] = float(job_rows)
    out["_gates_agree"] = out["curate.rows.repetition"] == job_rows
    return out
