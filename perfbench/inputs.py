"""Seeded benchmark inputs, written once per run before any timing.

Two corpus shapes come from the one generator, ``datagen.interleaved_docs``:

* ``spans``: its output as is, (doc_id string, spans array<struct>), the
  flagship job's input.  It carries the media-heavy skew cluster (0.1% of
  docs with ~100x spans) and the fixed edge docs 0-3.
* ``documents``: the same docs projected to the documents table
  (doc_id long, text, lang, source, n_chars) that the web and curation
  jobs read.  A doc's text is its text spans joined in reading order, so
  skew docs stay long.  Every 50th doc repeats its predecessor's text
  exactly and the next one repeats it with a word appended, so the
  curation job's exact and near-duplicate gates have work to do.

The resume pre-state is a snapshot sink whose committed snapshots cover
about 90% of the input doc_ids; ``restore_resume_sink`` resets it to that
state before each repetition.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloud_ocr_summarizer_spark.datagen import interleaved_docs

# Resume pre-state: hash bucket (of 10) -> committed snapshot; bucket 9,
# about 10% of the docs, stays pending.
RESUME_SNAPSHOTS = ((0, 1), (2, 3), (4, 5), (6, 7, 8))
PRISTINE_MANIFEST = "pristine_manifest.json"


def spans_corpus(spark: SparkSession, n_docs: int, seed: int) -> DataFrame:
    return interleaved_docs(spark, n_docs, seed=seed)


def documents_corpus(spark: SparkSession, n_docs: int, seed: int) -> DataFrame:
    src = interleaved_docs(spark, n_docs, seed=seed)
    texts = src.select(
        F.substring("doc_id", 5, 12).cast("long").alias("k"),
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.transform(
                            "spans",
                            lambda s: F.struct(s["offset"].alias("o"), s["text"].alias("t")),
                        )
                    ),
                    lambda x: x["t"].isNotNull(),
                ),
                lambda x: x["t"],
            ),
            " ",
        ).alias("text"),
    )
    d = F.col("id")
    ids = spark.range(n_docs).select(
        d.alias("doc_id"),
        F.when(F.pmod(d, 50) == 11, d - 1)
        .when(F.pmod(d, 50) == 12, d - 2)
        .otherwise(d)
        .alias("k"),
    )
    text = F.when(
        F.pmod("doc_id", 50) == 12, F.concat("text", F.lit(" zulu"))
    ).otherwise(F.col("text"))
    return (
        ids.join(texts, "k")
        .select(
            "doc_id",
            text.alias("text"),
            F.lit("en").alias("lang"),
            F.concat(F.lit("src"), F.pmod("doc_id", 7).cast("string")).alias("source"),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )


CORPORA = {"spans": spans_corpus, "documents": documents_corpus}


def materialize(
    spark: SparkSession, root: str, *, corpus: str, n_docs: int, seed: int, resume: bool
) -> dict[str, str]:
    """Write the main input and, when ``resume``, the resume pre-state sink
    built from it, under ``root``.  Returns their paths."""
    paths = {
        "main": os.path.join(root, "main"),
        "resume_sink": os.path.join(root, "resume_sink"),
    }
    CORPORA[corpus](spark, n_docs, seed).write.parquet(paths["main"])
    if resume:
        _build_resume_sink(spark, paths["main"], paths["resume_sink"], seed)
    return paths


def _build_resume_sink(spark: SparkSession, main: str, root: str, seed: int) -> None:
    from cloud_ocr_summarizer_spark.operators.extract import extract_spans
    from cloud_ocr_summarizer_spark.sources.checkpoint import SnapshotSink

    docs = spark.read.parquet(main)
    bucket = F.pmod(F.xxhash64("doc_id", F.lit(seed)), F.lit(10))
    sink = SnapshotSink(root)
    for i, members in enumerate(RESUME_SNAPSHOTS):
        part = docs.filter(bucket.isin(*members))
        sink.append(extract_spans(part, min_confidence=0.0), run_id=f"pre-{i}")
    shutil.copyfile(
        os.path.join(root, "manifest.json"), os.path.join(root, PRISTINE_MANIFEST)
    )


def restore_resume_sink(root: str) -> None:
    """Drop every snapshot committed after the pre-state was built."""
    with open(os.path.join(root, PRISTINE_MANIFEST), encoding="utf-8") as f:
        pristine = json.load(f)
    keep = {os.path.basename(s["path"]) for s in pristine["snapshots"]}
    for name in os.listdir(root):
        if name.startswith("snap=") and name not in keep:
            shutil.rmtree(os.path.join(root, name))
    with open(os.path.join(root, "manifest.json"), "w", encoding="utf-8") as f:
        json.dump(pristine, f, indent=2)
