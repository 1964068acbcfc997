#!/usr/bin/env python3
"""Benchmark of the repository's spark-submit jobs, end to end.

    python3 perfbench/run.py --workload NAME|all --seed N --seconds S --trace 0|1

Each workload runs in a fresh worker process (``perfbench/worker.py``) on
``local[nproc]``: session start, a first job call, untimed warm-up calls,
then repeated job calls on the seeded input for S seconds, one at a time.
The outputs of the last call are checked.  The worker writes its inputs,
outputs and span files under ``.perfbench_work/`` of the checkout.

Prints the metrics by name with their units, then, as the last line, one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones (docs_per_s,
cpu_s_per_kdoc, peak_rss_mb, setup_s); with ``--trace 1`` they are the
per-layer ones of a traced call and the layer probes.  ``attempted`` is
the number of documents checked and ``failed`` the number that failed
the check (doc_fail_frac = failed / attempted).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)

from perfbench.spec import DOC_FAIL_FRAC, END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                if os.getpgid(int(name)) == pgid:
                    return True
            except ProcessLookupError:
                pass
    return False


def _stop_group(pgid: int) -> None:
    """Stop every process left in the worker's process group (the JVM and
    Python workers) and wait until they are gone."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + grace
        while time.monotonic() < end and _group_alive(pgid):
            time.sleep(0.1)


def worker_timeout_s(workload: str, seconds: float, trace: int) -> float:
    """Time a worker may take before it counts as hung: start-up, inputs and
    the check, plus the warm-up and timed loops, with room for a busy host;
    a traced run also repeats the calls and runs the layer probes."""
    return (120 + 2 * (WORKLOADS[workload].warm_s + seconds)) * (2 if trace else 1)


def run_worker(workload: str, seed: int, seconds: float, trace: int, scale: float) -> dict:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(WORK, f"result-{os.getpid()}-{workload}.json")
    log_path = os.path.join(WORK, f"worker-{workload}.log")
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        # heap cap; the heap grows on demand below it, so peak_rss_mb
        # follows the job's heap use (README, Memory)
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--scale", str(scale), "--work", WORK,
        "--spawn-time", repr(time.time()), "--out", out,
    ]
    with open(log_path, "w", encoding="utf-8") as log:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=worker_timeout_s(workload, seconds, trace))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _stop_group(proc.pid)
            proc.wait()
            shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        with open(log_path, encoding="utf-8", errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(
            f"perfbench: worker for {workload} "
            + ("timed out" if rc is None else f"exited with {rc}")
        )
    with open(out, encoding="utf-8") as f:
        result = json.load(f)
    os.remove(out)
    return result


def report(r: dict, trace: int) -> dict:
    """Print one workload's metrics; return them in the JSON shape."""
    h = r["host"]
    print(
        f"workload {r['workload']}  seed {r['seed']}  docs {r['n_docs']}  "
        f"timed calls {r['reps']}  host nproc={h['nproc']} spark={h['spark']} "
        f"java={h['java']} pyarrow={h['pyarrow']}"
    )
    print("  call wall s: " + " ".join(f"{x:.3f}" for x in r["walls"]))
    print("  phases s: " + " ".join(f"{k}={v:.1f}" for k, v in r["phases_s"].items()))
    for name, value in r["end_to_end"].items():
        unit, better = END_TO_END[name]
        print(f"  {name:<16} {value:12.4f} {unit:<7} ({better} is better)")
    name, unit = DOC_FAIL_FRAC
    print(
        f"  {name:<16} {r['doc_fail_frac']:12.4f} {unit:<7} (lower is better; "
        f"{r['failed']} of {r['attempted']} docs failed the output check)"
    )
    if not trace:
        return {k: {"value": v, "unit": END_TO_END[k][0]} for k, v in r["end_to_end"].items()}
    print(f"  traced call: {r['traced_docs_per_s']:.2f} docs/s; spans in {r['trace_file']}")
    print(f"  {'span':<30} {'calls':>5} {'total_s':>9} {'self_s':>9} {'exec_run_s':>10} {'jobs':>5}")
    for name, calls, total, own, run_s, jobs in r["layer_table"]:
        print(f"  {name:<30} {calls:>5} {total:9.3f} {own:9.3f} {run_s:10.3f} {jobs:>5}")
    if not r["gates_agree"]:
        print("  warning: the curation gate probes disagree with the job's row count")
    for name, value in r["per_layer"].items():
        print(f"  {name:<40} {value:14.4f} {PER_LAYER[name]}")
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in r["per_layer"].items()}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size relative to the workload's default")
    args = p.parse_args()

    for needed in ("cloud_ocr_summarizer_spark", "jobs"):
        if not os.path.isdir(os.path.join(ROOT, needed)):
            sys.stderr.write(f"perfbench: {needed}/ not found next to perfbench/\n")
            return 2

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    metrics: dict = {}
    attempted = failed = 0
    for name in names:
        r = run_worker(name, args.seed, args.seconds, args.trace, args.scale)
        found = report(r, args.trace)
        prefix = f"{name}." if args.workload == "all" else ""
        metrics.update({prefix + k: v for k, v in found.items()})
        attempted += r["attempted"]
        failed += r["failed"]
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
