"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark once per workload at a tiny input size and
take a few minutes in all.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

from cloud_ocr_summarizer_spark import oracle
from perfbench import check
from perfbench.spec import END_TO_END, PER_LAYER, WORKLOADS
from perfbench.trace import parse_sql_metric

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


# -- checker ---------------------------------------------------------------


def _spans(doc: int) -> list[dict]:
    return [
        {"kind": "Text", "text": f" w{doc} x ", "media_ref": None, "offset": 2},
        {"kind": "Picture", "text": None, "media_ref": f"gs://m/{doc}.png", "offset": 1},
        {"kind": "Table", "text": "t  a", "media_ref": None, "offset": 0},
    ]


def _flagship_output(ids: list[str]) -> dict[str, list[dict]]:
    return {
        i: [
            {"kind": k, "text": t, "media_ref": m, "offset": o}
            for k, t, m, o in oracle.extract_document(_spans(n), min_confidence=0.0)
        ]
        for n, i in enumerate(ids)
    }


def test_flagship_check_accepts_oracle_output():
    ids = ["d0", "d1", "d2"]
    sample_in = {i: _spans(n) for n, i in enumerate(ids)}
    assert check.flagship(ids, ids, sample_in, _flagship_output(ids)) == set()


def test_flagship_check_flags_dropped_span_duplicate_and_missing_doc():
    ids = ["d0", "d1", "d2", "d3"]
    sample_in = {i: _spans(n) for n, i in enumerate(ids)}
    out = _flagship_output(ids)
    out["d0"] = out["d0"][1:]  # one span dropped
    written = ["d0", "d1", "d1", "d2"]  # d1 written twice, d3 missing
    assert check.flagship(ids, written, sample_in, out) == {"d0", "d1", "d3"}


def test_rows_match_flags_wrong_value_and_extra_doc():
    expected = {1: {"doc_id": 1, "n_spans": 3}, 2: {"doc_id": 2, "n_spans": 5}}
    actual = {1: {"doc_id": 1, "n_spans": 3}, 2: {"doc_id": 2, "n_spans": 4}}
    assert check.rows_match([1, 2], [1, 2], expected, expected) == set()
    assert check.rows_match([1, 2], [1, 2, 9], expected, actual) == {2, 9}


def test_curate_check_flags_duplicate_foreign_id_bad_split_and_drift():
    counts = [{"train": 2, "val": 1}]
    failed, drift = check.curate([1, 2, 3, 4], [1, 2, 4], ["train", "val", "train"], counts)
    assert (failed, drift) == (set(), 0)
    failed, drift = check.curate(
        [1, 2, 3, 4],
        [1, 1, 7, 4],
        ["train", "train", "val", "dev"],
        counts + [{"train": 2, "val": 2}],
    )
    assert failed == {1, 7, 4}
    assert drift == 1


def test_parse_sql_metric():
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n4.7 s (1.2 s, 1.2 s)") == 4.7
    assert parse_sql_metric("total (min, med, max)\n13 ms (1 ms, 2 ms, 3 ms)") == pytest.approx(0.013)
    assert parse_sql_metric("total (min, med, max)\n2.0 MiB (1 KiB)") == pytest.approx(2.097152)


# -- tracer ----------------------------------------------------------------------


def test_jobs_outside_every_layer_span_count_as_unattributed():
    from cloud_ocr_summarizer_spark.session import get_spark
    from perfbench.layers import unattributed_share
    from perfbench.trace import Tracer

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    spark = get_spark(app_name="perfbench-test", cores=2)
    work = spark.range(0, 3_000_000, 1, 2).selectExpr("sum(crc32(cast(id AS string)))")
    try:
        tracer = Tracer(spark)
        roots = []
        for outside in (False, True):
            with tracer.span("flagship.job") as root:
                root["epoch_start_ms"] = time.time() * 1000
                with tracer.span("flagship.run"):
                    work.collect()
                if outside:  # a job the script issues itself, in no layer
                    work.collect()
                root["epoch_end_ms"] = time.time() * 1000
            roots.append(root)
        tracer.collect()
        assert unattributed_share(tracer, roots[:1]) == 0.0
        assert 0.2 < unattributed_share(tracer, roots[1:]) < 0.8
    finally:
        spark.stop()


# -- BENCHMARK.json ------------------------------------------------------------


def test_benchmark_json_names_match_the_benchmark():
    bench = _benchmark_json()
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curate", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


# -- smoke runs ------------------------------------------------------------------


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "5", "--seconds", "1",
         "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in _benchmark_json()["workloads"]])
def test_smoke_traced_run_prints_every_per_layer_metric(workload):
    out = _run(workload, trace=1)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    assert set(out["metrics"]) == set(PER_LAYER)


def test_smoke_one_command_runs_every_workload():
    out = _run("all", trace=0)
    assert out["correct"] and out["failed"] == 0
    assert set(out["metrics"]) == {f"{w}.{m}" for w in WORKLOADS for m in END_TO_END}
    assert all(v["value"] > 0 for v in out["metrics"].values())
