"""Per-partition lineage metrics (north_rule; FIXTURES.md §4).

Schema: (run_id, snapshot_id, partition_id, doc_count, span_count, bytes,
wall_time_s) — one row per partition of the extraction job.

Cheap path: ``partition_metrics``, a groupBy(spark_partition_id()) with a
null wall_time_s.  Timed path (the jobs): ``count_partitions`` collects
those counts in the one JVM-only job that computes the persisted frame,
and ``timed_partition_metrics`` builds the rows on the driver; wall_time_s
is the executor run time of the task that computed that partition.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("doc_count", T.LongType()),
        T.StructField("span_count", T.LongType()),
        T.StructField("bytes", T.LongType()),
        T.StructField("wall_time_s", T.DoubleType()),
    ]
)


def partition_counts(df: DataFrame, *, n_spans: Column, n_bytes: Column) -> DataFrame:
    """(partition_id, doc_count, span_count, bytes) per non-empty partition."""
    return (
        df.select(
            F.spark_partition_id().alias("partition_id"),
            n_spans.cast("long").alias("n_spans"),
            n_bytes.cast("long").alias("n_bytes"),
        )
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("doc_count"),
            F.sum("n_spans").alias("span_count"),
            F.sum("n_bytes").alias("bytes"),
        )
    )


def partition_metrics(
    extracted: DataFrame, *, run_id: str, snapshot_id: int = 0
) -> DataFrame:
    """Lineage rows via groupBy(spark_partition_id()) over the extracted
    output (doc_id, spans_out).  wall_time_s is null on this cheap path."""
    span_bytes = F.aggregate(
        F.col("spans_out"),
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.coalesce(F.octet_length(s["text"]), F.lit(0))
        + F.coalesce(F.octet_length(s["media_ref"]), F.lit(0)),
    )
    return partition_counts(
        extracted, n_spans=F.size("spans_out"), n_bytes=span_bytes
    ).select(
        F.lit(run_id).alias("run_id"),
        F.lit(snapshot_id).cast("long").alias("snapshot_id"),
        "partition_id",
        "doc_count",
        "span_count",
        "bytes",
        F.lit(None).cast("double").alias("wall_time_s"),
    )


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def count_partitions(counts: DataFrame) -> dict[int, tuple]:
    """partition_id -> (doc_count, span_count, bytes, run time in s) for
    every partition, empty ones included, of a persisted frame that no
    action has computed yet.  ``counts`` (its ``partition_counts`` or
    ``partition_metrics``) is collected in one job, which fills the cache;
    the run time is the executorRunTime of the task that filled the
    partition.  That job is found by a job-id watermark, not a job group,
    so a caller's job group stays in force."""
    sc = counts.sparkSession.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)  # newest first
    last_job = jobs.head().jobId() if jobs.nonEmpty() else -1
    rows = counts.collect()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs, stage_ids = store.jobsList(None), set()
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobId() <= last_job:
            break
        stage_ids.update(_seq(job.stageIds()))
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    attempts = [
        a
        for sid in stage_ids
        for a in _seq(store.stageData(sid, False, None, False, no_quantiles))
    ]
    # the newest cache these jobs touched is the frame's; the stages that
    # read it later list the same RDD, so the first one filled it
    ours = max(
        {r for a in attempts for r in _seq(a.rddIds())}
        & {info.id() for info in _seq(store.rddList(True))},
        default=None,
    )
    fill = min(
        (a.stageId() for a in attempts if a.rddIds().contains(ours)), default=None
    )
    run_s = {
        t.partitionId(): t.taskMetrics().get().executorRunTime() / 1e3
        for a in attempts
        if a.stageId() == fill
        for t in _seq(store.taskList(fill, a.attemptId(), 1 << 30))
        if t.status() == "SUCCESS"
    }
    found = {r.partition_id: (r.doc_count, r.span_count, r.bytes) for r in rows}
    return {
        p: (*found.get(p, (0, 0, 0)), run_s.get(p))
        for p in sorted(found.keys() | run_s.keys())
    }


def timed_partition_metrics(
    spark: SparkSession, parts: dict[int, tuple], *, run_id: str, snapshot_id: int
) -> DataFrame:
    """LINEAGE_SCHEMA rows of ``count_partitions``' result, built from an
    Arrow table on the driver, so writing them starts no Python worker."""
    rows = [(run_id, snapshot_id, p, *v) for p, v in parts.items()]
    table = pa.table([list(c) for c in zip(*rows)], names=LINEAGE_SCHEMA.names)
    return spark.createDataFrame(table, LINEAGE_SCHEMA)
