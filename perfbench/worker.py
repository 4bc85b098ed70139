"""One measured process: start the engine session, generate the inputs,
run the workload's jobflow in a closed loop, check every output, and
write the raw samples to ``<work>/result.json`` for the launcher.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

# Untimed executions between the cold one and the window.  Warm times
# fall steeply for the first few executions of a process (JIT, codegen
# and Python-worker start-up) and then flatten.  Measured on a 4-core
# host, nightly_jobflow flattens after ~4 executions and iterative_rounds
# after ~2; corpus_dedup needs ~4 but its executions are the longest, so
# it gets one, to keep a run under ~45 s.
WARMUPS = {"nightly_jobflow": 4, "iterative_rounds": 2, "corpus_dedup": 1}
# Timed executions a run takes even when they outlast the window; with
# executions longer than half the window this count, not the host's
# speed, sets how many samples a run's median is taken over.
MIN_SAMPLES = {"nightly_jobflow": 3, "iterative_rounds": 2, "corpus_dedup": 2}
# input sizes (generator scale): execution time is mostly per-job driver
# overhead, so small inputs keep each execution short and leave room in
# a run for the warm-up and several timed samples
SCALE = {"nightly_jobflow": 0.5, "iterative_rounds": 1, "corpus_dedup": 0.1}


def session_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(f"{work}/events", exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/events",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return conf


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--t0", type=float, required=True, help="launcher's time.monotonic() at spawn")
    a = ap.parse_args(argv)
    trace = bool(a.trace)

    # -- set-up: imports, session, first trivial job ----------------------
    t = time.perf_counter()
    from asakusafw_spark_spark import get_spark

    spark = get_spark(app_name=f"perfbench-{a.workload}", extra_conf=session_conf(a.work, trace))
    get_spark_s = time.perf_counter() - t
    t = time.perf_counter()
    spark.range(1).count()
    first_job_s = time.perf_counter() - t
    setup_s = time.monotonic() - a.t0  # CLOCK_MONOTONIC is system-wide
    sc = spark.sparkContext

    from asakusafw_spark_spark.sources import read_parquet
    from perfbench import gen
    from perfbench.trace import (EVENT_TOTALS, Tracer, event_log_totals, scheduler_counts,
                                 self_times)
    from perfbench.workloads import WORKLOADS, Check

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
    t = time.perf_counter()
    inputs = gen.GENERATORS[a.workload](f"{a.work}/inputs", a.seed, SCALE[a.workload])
    gen_s = time.perf_counter() - t
    tracer = Tracer(sc)
    wl = WORKLOADS[a.workload](inputs, tracer, cpus)
    wl.reference()

    res = {"setup_s": setup_s, "cold_jobflow_s": None, "jobflow_s": [], "traced_s": [],
           "attempted": 0, "failed": 0, "matched": 0, "expected": 0, "produced": 0,
           "errors": [], "layers": []}

    def execute(i: int, traced: bool) -> "float | None":
        tracer.enabled = traced
        tracer.exec_id = i
        out = f"{a.work}/out/e{i}"
        res["attempted"] += 1
        try:
            t = time.perf_counter()
            with tracer.span("jobflow"):
                outcome = wl.run(spark, out)
            elapsed = time.perf_counter() - t
            tracer.enabled = False
            checks = wl.check(out, outcome)
            read_back = wl.rows_written(out)
            if outcome.records_out != read_back:
                checks.append(Check(False, 0, 0, 0, f"OutputCounters logged "
                                    f"{outcome.records_out} records, {read_back} read back"))
            for c in checks:
                res["matched"] += c.matched
                res["expected"] += c.expected
                res["produced"] += c.produced
            bad = [c.detail for c in checks if not c.ok]
            if bad:
                res["failed"] += 1
                res["errors"].append(f"execution {i}: " + "; ".join(bad))
                return None
            if traced:
                res["layers"].append(_layers(i, out, outcome, read_back))
            return elapsed
        except Exception:
            res["failed"] += 1
            res["errors"].append(f"execution {i}:\n{traceback.format_exc()}")
            return None
        finally:
            tracer.enabled = False
            wl.cleanup(spark, out)

    def _layers(i: int, out: str, outcome, read_back: int) -> dict:
        spans = tracer.of_exec(i)
        selfs = self_times(spans)
        groups = [s.group for s in spans if s.group]
        counts = scheduler_counts(sc, groups)

        def dur(pred):
            return sum(s.duration for s in spans if pred(s.name))

        t = time.perf_counter()
        for path in inputs.tables.values():
            read_parquet(spark, path).write.format("noop").mode("overwrite").save()
        scan_s = time.perf_counter() - t
        dedup_groups = [s.group for s in spans if s.name == "functions.dedup"]
        lay = {
            "exec": i,
            "sources.read.plan_s": dur(lambda n: n == "sources.read"),
            "sources.read.scan_s": scan_s,
            "operators.plan_s": dur(lambda n: n.startswith("operators.")),
            "functions.text.s": dur(lambda n: n == "functions.text"),
            "functions.dedup.s": dur(lambda n: n == "functions.dedup"),
            "functions.dedup.jobs": sum(counts[g]["jobs"] for g in dedup_groups),
            "sources.write.files_out": outcome.files_out,
            "sources.write.bytes_out": outcome.bytes_out,
            "sources.write.bytes_per_record": outcome.bytes_out / max(1, read_back),
            "listener.records_out": outcome.records_out,
            **{f"spark.{k}": sum(c[k] for c in counts.values())
               for k in ("jobs", "stages", "tasks", "tasks_failed")},
            "groups": groups,
            "self_s": _by_name(spans, selfs),
            **outcome.layer,
            **wl.traced_layer(out),
        }
        return lay

    # -- cold execution, warm-up, then the timed window --------------------
    res["cold_jobflow_s"] = execute(0, False)
    for n in range(1, 1 + WARMUPS[a.workload]):
        execute(n, False)
    start = time.perf_counter()
    n = first = 1 + WARMUPS[a.workload]
    least = MIN_SAMPLES[a.workload] * (1 + trace)
    while time.perf_counter() - start < a.seconds or n - first < least:
        # traced, untraced, untraced, traced, ...: balances the warm-up drift
        traced = trace and (n - first) % 4 in (0, 3)
        dt = execute(n, traced)
        if dt is not None:
            res["traced_s" if traced else "jobflow_s"].append(dt)
        n += 1
        if res["failed"] > 3:
            break

    res["peak_rss_mb"] = vm_hwm_mb("self") + vm_hwm_mb(
        spark._jvm.java.lang.ProcessHandle.current().pid())
    spark.stop()
    res |= {"gen_s": gen_s, "get_spark_s": get_spark_s, "first_job_s": first_job_s,
            "input_rows": inputs.rows, "input_bytes": inputs.bytes}
    if trace:
        logs = os.listdir(f"{a.work}/events")
        if len(logs) != 1:
            raise RuntimeError(f"expected one Spark event log, found {logs}")
        totals = event_log_totals(os.path.join(f"{a.work}/events", logs[0]))
        for lay in res["layers"]:
            for k in EVENT_TOTALS:
                lay[f"spark.{k}"] = sum(totals.get(g, {}).get(k, 0.0) for g in lay["groups"])
            del lay["groups"]
        os.makedirs(f"{a.work}/../traces", exist_ok=True)
        tracer.dump(f"{a.work}/../traces/{a.workload}-seed{a.seed}.json",
                    {"layers": res["layers"]})
    with open(f"{a.work}/result.json", "w") as f:
        json.dump(res, f)
    return 0


def _by_name(spans, selfs) -> dict:
    out: dict = {}
    for s in spans:
        key = s.name if not s.name.startswith("plans.iterative.round.") else "plans.iterative.round"
        out[key] = out.get(key, 0.0) + selfs[s.id]
    return out


if __name__ == "__main__":
    sys.exit(main())
