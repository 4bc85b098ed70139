#!/usr/bin/env python3
"""Benchmark launcher.

    python3 perfbench/run.py --workload nightly_jobflow --seed 1 --seconds 4 --trace 0

Runs one workload in a fresh worker process on ``local[nproc]`` (one
jobflow at a time, closed loop).  Prints a summary and, as the last
line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``).

Everything the run writes (inputs, outputs, Spark local dirs, event
log, temp files) lives under ``.perfbench_work/`` in the checkout and
is deleted when the run ends; traced runs keep their span dump in
``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.trace import describe  # noqa: E402

TIMEOUT_S = 170  # the whole run, all processes
DRIVER_MEMORY = "3g"


def metric_units(kind: str) -> dict:
    """Metric → unit for ``end_to_end`` or ``per_layer``, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def become_subreaper() -> None:
    """Adopt orphaned descendants (the JVM outlives its Python parent by
    a moment), so they can be reaped here instead of lingering."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    PR_SET_CHILD_SUBREAPER = 36
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def spawn(cmd, env, cwd, deadline, log):
    """Run ``cmd`` in its own process group; on return every process of
    the group (JVM, Python workers) has ended."""
    p = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=log, stderr=log,
                         start_new_session=True)
    rc = None
    try:
        rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        pass
    finally:  # also on SIGTERM/SIGINT: never leave the worker group behind
        if rc is None:
            _kill_group(p.pid)
            p.wait()
        _reap_group(p.pid)
    if rc is None:
        raise TimeoutError(f"worker timed out after {TIMEOUT_S} s")
    return rc


def _kill_group(pgid: int) -> None:
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def _reap_group(pgid: int) -> None:
    """Wait (10 s at most, then kill) until no process of the group is
    left, reaping the adopted ones."""
    end = time.monotonic() + 10
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        if time.monotonic() >= end:
            _kill_group(pgid)
            end = time.monotonic() + 5
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["nightly_jobflow", "iterative_rounds", "corpus_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + TIMEOUT_S
    become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "asakusafw_spark_spark")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env |= {
        "PYTHONPATH": ROOT,  # pandas-UDF workers import the engine package
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_LOCAL_DIRS": f"{work}/local",
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": f"{work}/tmp",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",
    }
    try:
        for d in ("local", "tmp"):
            os.makedirs(f"{work}/{d}", exist_ok=True)
        cmd = [sys.executable, "-m", "perfbench.worker", "--workload", a.workload,
               "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--work", work, "--t0"]
        with open(f"{work}/log.txt", "wb") as log:
            rc = spawn(cmd + [repr(time.monotonic())], env, work, deadline, log)
        if rc != 0 or not os.path.exists(f"{work}/result.json"):
            with open(f"{work}/log.txt", "rb") as f:
                sys.stderr.write(f.read()[-8000:].decode(errors="replace"))
            print(f"perfbench: worker exited with {rc}", file=sys.stderr)
            return rc or 1
        with open(f"{work}/result.json") as f:
            result = json.load(f)
    except TimeoutError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if (result["cold_jobflow_s"] is None or not result["jobflow_s"]
            or (a.trace and not result["traced_s"])):
        for e in result["errors"]:
            print(f"FAILED {e}", file=sys.stderr)
        print("perfbench: no successful execution to report", file=sys.stderr)
        return 4
    report(a, result)
    return 0


def report(a, w: dict) -> None:
    attempted, failed = w["attempted"], w["failed"]
    for e in w["errors"]:
        print(f"FAILED {e}")
    lines = [f"workload {a.workload} seed {a.seed}: {w['input_rows']} input rows, "
             f"{w['input_bytes']} input bytes, generated in {w['gen_s']:.3f} s "
             f"(not part of setup_s)"]
    if not a.trace:
        warm = w["jobflow_s"]
        lines.append(f"setup_s: {w['setup_s']:.6g} s (n=1)")
        lines.append(f"cold_jobflow_s: {w['cold_jobflow_s']:.6g} s (n=1)")
        lines.append(describe("jobflow_s", "s", warm))
        values = {
            "setup_s": w["setup_s"],
            "jobflow_s": statistics.median(warm),
            "rows_per_s": w["input_rows"] / statistics.median(warm),
            "output_recall": w["matched"] / max(1, w["expected"]),
            "output_precision": w["matched"] / max(1, w["produced"]),
            "success_ratio": 1 - failed / attempted,
        }
        units = metric_units("end_to_end")
    else:
        values, units = layer_metrics(w, lines)
    for line in lines:
        print(line)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))


def layer_metrics(w: dict, lines: list) -> "tuple[dict, dict]":
    """Median over the traced executions of each per-layer number; a
    metric the workload does not exercise reads 0."""
    units = metric_units("per_layer")
    layers = w["layers"]
    values = dict.fromkeys(units, 0.0)
    for name in units:
        samples = [lay[name] for lay in layers if name in lay]
        if name == "plans.iterative.round_s":
            samples = [v for lay in layers for v in lay.get("plans.iterative.rounds_s", [])]
        if samples:
            values[name] = statistics.median(samples)
            lines.append(describe(name, units[name], samples))
    values |= {
        "cold_jobflow_s": w["cold_jobflow_s"],
        "session.get_spark_s": w["get_spark_s"],
        "session.first_job_s": w["first_job_s"],
        "sources.read.input_rows": w["input_rows"],
        "sources.read.input_bytes": w["input_bytes"],
        "gen.s": w["gen_s"],
        "process.peak_rss_mb": w["peak_rss_mb"],
        "trace.jobflow_s": statistics.median(w["traced_s"]),
        "trace.untraced_jobflow_s": statistics.median(w["jobflow_s"]),
    }
    values["trace.overhead_s"] = values["trace.jobflow_s"] - values["trace.untraced_jobflow_s"]
    lines.append(describe("trace.jobflow_s", "s", w["traced_s"]))
    lines.append(describe("trace.untraced_jobflow_s", "s", w["jobflow_s"]))
    self_s: dict = {}
    for lay in layers:
        for k, v in lay["self_s"].items():
            self_s.setdefault(k, []).append(v)
    lines.append("self time per span name, median over traced executions:")
    for k in sorted(self_s):
        lines.append(f"  {k}: {statistics.median(self_s[k]):.4f} s")
    return values, units


if __name__ == "__main__":
    sys.exit(main())
