"""One benchmark process: start a session, warm up, time the job, check it.

    python3 -m perfbench.worker --workload NAME --seed N --seconds S
        --trace 0|1 --scale X --work DIR --spawn-time EPOCH --out FILE

``run.py`` starts this in a fresh process and reads FILE.  The job is the
repository's own spark-submit script (``jobs/<script>.py``), called
through its ``main()`` with the arguments a user would pass, in this
process's session.  The loop is closed: one job call at a time, the next
starts when the previous one ends, until S seconds have passed.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _host(spark) -> dict:
    import pyarrow

    return {
        "nproc": os.cpu_count(),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "pyarrow": pyarrow.__version__,
    }


class Job:
    """A workload's job script, its inputs and outputs, and its checks."""

    def __init__(self, spark, workload, paths: dict, run_dir: str, n_docs: int) -> None:
        self.spark = spark
        self.w = workload
        self.paths = paths
        self.n_docs = n_docs
        self.run_dir = run_dir
        spec = importlib.util.spec_from_file_location(
            f"perfbench_job_{workload.job}", os.path.join(ROOT, "jobs", f"{workload.job}.py")
        )
        self.module = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.module)
        self.lineage = os.path.join(run_dir, "lineage")
        if workload.resume:
            self.output = paths["resume_sink"]
        else:
            self.output = os.path.join(run_dir, "output")

    def prepare(self) -> None:
        """Reset the outputs to the workload's start state (untimed)."""
        from perfbench.inputs import restore_resume_sink

        shutil.rmtree(self.lineage, ignore_errors=True)
        if self.w.resume:
            restore_resume_sink(self.output)
        else:
            shutil.rmtree(self.output, ignore_errors=True)

    def call(self) -> None:
        """One run of the job script, as ``spark-submit jobs/<job>.py ...``."""
        argv = ["--input", self.paths["main"], "--output", self.output]
        if self.w.job != "run_curate":
            argv += ["--lineage", self.lineage]
        if self.w.repartition:
            argv += ["--repartition", str(self.w.repartition)]
        saved = sys.argv
        sys.argv = [f"{self.w.job}.py", *argv]
        try:
            rc = self.module.main()
        finally:
            sys.argv = saved
        if rc != 0:
            raise RuntimeError(f"jobs/{self.w.job}.py exited with {rc}")

    # -- checks ----------------------------------------------------------------
    def input_ids(self) -> list:
        return [r[0] for r in self.spark.read.parquet(self.paths["main"]).select("doc_id").collect()]

    def split_counts(self) -> dict[str, int]:
        out = self.spark.read.parquet(self.output)
        return {r[0]: r[1] for r in out.groupBy("split").count().collect()}

    def check(self, counts_per_rep: list[dict]) -> tuple[int, int]:
        """(docs failed, docs checked) for the output of the last call."""
        from pyspark.sql import functions as F

        from perfbench import check

        spark = self.spark
        input_ids = self.input_ids()
        if self.w.job == "run_curate":
            rows = spark.read.parquet(self.output).select("doc_id", "split").collect()
            failed, drift = check.curate(
                input_ids, [r[0] for r in rows], [r[1] for r in rows], counts_per_rep
            )
            return len(failed) + drift, len(input_ids)

        from cloud_ocr_summarizer_spark.sources.checkpoint import SnapshotSink

        out = SnapshotSink(self.output).read_committed(spark)
        output_ids = [r[0] for r in out.select("doc_id").collect()]
        inp = spark.read.parquet(self.paths["main"])
        if self.w.job == "run_extract":
            idx = F.substring("doc_id", 5, 12).cast("long")
        else:
            idx = F.col("doc_id")
        # edge docs 0-3, every skew doc, and a hash sample of ~1%
        sample = (idx < 4) | (F.pmod(idx, 1000) == 7) | (F.pmod(F.xxhash64("doc_id"), 97) == 0)
        if self.w.job == "run_extract":
            sample_in = {
                r["doc_id"]: [s.asDict() for s in r["spans"]] for r in inp.filter(sample).collect()
            }
            sample_out = {
                r["doc_id"]: [s.asDict() for s in r["spans_out"]]
                for r in out.filter(sample).select("doc_id", "spans_out").collect()
            }
            failed = check.flagship(input_ids, output_ids, sample_in, sample_out)
        else:
            import duckdb

            from cloud_ocr_summarizer_spark.plans.oracles import ORACLES

            con = duckdb.connect()
            con.register("documents", inp.filter(sample).toPandas())
            res = con.sql(ORACLES["extract_web_fused"])
            cols = res.columns
            expected = {}
            for row in res.fetchall():
                rec = check.web_oracle_row(dict(zip(cols, row)))
                expected[rec["doc_id"]] = rec
            con.close()
            actual = {
                r["doc_id"]: r.asDict()
                for r in out.filter(sample).select(*cols).collect()
            }
            failed = check.rows_match(input_ids, output_ids, expected, actual)
        return len(failed), len(input_ids)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--scale", type=float, default=1.0)
    p.add_argument("--work", required=True)
    p.add_argument("--spawn-time", type=float, required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args()

    from cloud_ocr_summarizer_spark.session import get_spark
    from perfbench import inputs, procstat
    from perfbench.spec import TRACE_COMPANIONS, WORKLOADS

    w = WORKLOADS[args.workload]
    pid = os.getpid()
    tmp = os.path.join(args.work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        cores=os.cpu_count(),
        extra_conf={
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    session_s = time.time() - args.spawn_time
    phases = {"session": session_s}
    mark = time.perf_counter()

    run_dir = os.path.join(args.work, f"run-{pid}")

    def make_job(workload) -> Job:
        n_docs = max(64, int(workload.n_docs * args.scale))
        root = os.path.join(run_dir, workload.name)
        paths = inputs.materialize(
            spark, os.path.join(root, "input"), corpus=workload.corpus, n_docs=n_docs,
            seed=args.seed, resume=workload.resume,
        )
        return Job(spark, workload, paths, root, n_docs)

    def lap(name: str) -> float:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now
        return phases[name]

    try:
        job = make_job(w)
        n_docs = job.n_docs
        result: dict = {
            "workload": w.name, "seed": args.seed, "n_docs": n_docs,
            "host": _host(spark), "phases_s": phases,
        }
        lap("inputs")
        # the first call, on the main input as the timed ones, ends set-up
        job.prepare()
        job.call()
        setup_s = session_s + lap("first_call")
        warm_end = time.perf_counter() + w.warm_s
        last = 0.0
        while time.perf_counter() + last <= warm_end:
            t0 = time.perf_counter()
            job.prepare()
            job.call()
            last = time.perf_counter() - t0
        lap("warmup")

        walls: list[float] = []
        cpus: list[float] = []
        counts: list[dict] = []
        raised = False
        deadline = time.perf_counter() + args.seconds
        while True:
            job.prepare()
            c0 = procstat.tree_cpu_s(pid)
            t0 = time.perf_counter()
            try:
                job.call()
            except Exception:
                traceback.print_exc()
                raised = True
            walls.append(time.perf_counter() - t0)
            cpus.append(procstat.tree_cpu_s(pid) - c0)
            if raised:
                break
            if w.job == "run_curate":
                counts.append(job.split_counts())
            # closed loop within the time box: start another call only if
            # one as long as the last still ends before the deadline
            if time.perf_counter() + walls[-1] > deadline:
                break
        rss = procstat.peak_rss_mb(pid)
        lap("timed")
        if raised:
            failed = attempted = n_docs
        else:
            failed, attempted = job.check(counts)
        lap("check")
        wall = statistics.median(walls)
        result.update(
            reps=len(walls),
            walls=walls,
            cpus=cpus,
            attempted=attempted,
            failed=failed,
            end_to_end={
                "docs_per_s": n_docs / wall,
                "cpu_s_per_kdoc": statistics.median(cpus) / (n_docs / 1000.0),
                "peak_rss_mb": rss,
                "setup_s": setup_s,
            },
            doc_fail_frac=failed / attempted,
        )
        if args.trace and not raised:
            from perfbench.layers import traced_run

            jobs = [job] + [make_job(WORKLOADS[c]) for c in TRACE_COMPANIONS.get(w.name, ())]
            result.update(
                traced_run(spark, jobs, result["end_to_end"]["docs_per_s"], session_s,
                           os.path.join(args.work, "traces", f"{w.name}-seed{args.seed}.json"))
            )
            lap("trace")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        spark.stop()
    with open(args.out, "w", encoding="utf-8") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
