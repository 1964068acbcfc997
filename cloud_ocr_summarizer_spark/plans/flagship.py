"""The flagship job: resumable, lineage-emitting, skew-aware extraction.

Physical shape (SURVEY.md §4.4):

    scan(docs)                          [column-pruned, filters pushed]
    -> pending_docs (left_anti)         [resume; no-op on first run]
    -> size gate                        [10 MB analogue]
    -> [salted repartition]             [only before batch-UDF stages]
    -> extract_spans (row-local)        [0 shuffles]
    -> persist + count per partition    [one JVM job; wall_time_s = run
                                         time of the task that computed it]
    -> sink.append(extracted)           [snapshot commit]
    -> sink.append(lineage)             [metrics table, built on driver]

Run it twice and the second run writes nothing new (idempotent resume).
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from cloud_ocr_summarizer_spark.lineage import (
    count_partitions,
    partition_metrics,
    timed_partition_metrics,
)
from cloud_ocr_summarizer_spark.operators.extract import extract_spans
from cloud_ocr_summarizer_spark.operators.skew import salted_repartition
from cloud_ocr_summarizer_spark.sources.checkpoint import SnapshotSink, pending_docs


@dataclass
class FlagshipResult:
    run_id: str
    snapshot_id: int | None
    docs_written: int


def run_flagship(
    spark: SparkSession,
    input_df: DataFrame,
    *,
    output_root: str,
    lineage_root: str | None = None,
    raw_debug_root: str | None = None,
    repartition_to: int | None = None,
    min_confidence: float = 0.0,
    sink=None,
    raw_debug_sink=None,
    lineage_sink=None,
) -> FlagshipResult:
    """Extract all pending documents, commit one snapshot + lineage rows.

    ``raw_debug_root`` is the S6 raw-response debug sink analogue
    (reference vision_processor.py:129-133, gated by config
    settings.py:110): when set, the RAW pre-extraction spans of exactly
    the docs processed this run are committed to a second SnapshotSink
    under the same run_id; when None (the default), nothing is written.

    ``sink`` / ``raw_debug_sink`` / ``lineage_sink`` inject any object
    with the SnapshotSink surface (append/read_committed/...): pass
    ``sources.iceberg.IcebergSnapshotSink("cat.db.tbl")`` on a real
    Iceberg deployment — ALL THREE outputs take the swap, not just the
    main one; each defaults to the parquet stand-in at its *_root path.
    """
    run_id = uuid.uuid4().hex
    sink = sink if sink is not None else SnapshotSink(output_root)
    todo = pending_docs(input_df, sink, spark)
    if repartition_to:
        todo = salted_repartition(todo, repartition_to)
    # persisted: the counting job (its tasks time lineage), the output
    # write and the raw-debug join share one execution
    extracted = extract_spans(todo, min_confidence=min_confidence).persist()
    parts = count_partitions(partition_metrics(extracted, run_id=run_id))
    docs = sum(v[0] for v in parts.values())
    if docs == 0:
        extracted.unpersist()
        return FlagshipResult(run_id=run_id, snapshot_id=None, docs_written=0)

    snapshot_id = sink.append(extracted, run_id=run_id)
    if raw_debug_root or raw_debug_sink is not None:
        # debug capture of the raw input spans for THIS run's doc set
        # (left_semi against the PERSISTED extracted ids keeps it exactly
        # the processed docs even though `todo` re-executes lazily here).
        # Deliberate trade: this re-scans the input once — only when the
        # debug sink is enabled.  The alternative (carrying raw spans
        # through extraction) would widen every row of every run to save
        # a scan on the rare debug run.
        raw = input_df.join(
            extracted.select("doc_id"), on="doc_id", how="left_semi"
        )
        rsink = raw_debug_sink if raw_debug_sink is not None else SnapshotSink(
            raw_debug_root
        )
        rsink.append(raw, run_id=run_id)
    if lineage_root or lineage_sink is not None:
        metrics = timed_partition_metrics(
            spark, parts, run_id=run_id, snapshot_id=snapshot_id
        )
        lsink = lineage_sink if lineage_sink is not None else SnapshotSink(
            lineage_root
        )
        lsink.append(metrics, run_id=run_id)
    extracted.unpersist()
    return FlagshipResult(run_id=run_id, snapshot_id=snapshot_id, docs_written=docs)
