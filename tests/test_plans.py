"""FlowGraph + IterativeRunner tests (reference JobCompilerSpec /
IterativeBatchExecutor patterns)."""

import pytest
from pyspark.sql import functions as F

from asakusafw_spark_spark.operators import branch, summarize
from asakusafw_spark_spark.plans import FlowGraph, IterativeRunner


def test_flow_end_to_end(spark, sf_dir, tmp_path):
    flow = FlowGraph()
    flow.source("orders", lambda s: s.read.parquet(f"{sf_dir}/orders.parquet"))
    flow.op(
        "routed",
        "orders",
        lambda s, df: branch(
            df,
            F.when(F.col("o_orderstatus") == "F", "done").otherwise("open"),
            ["done", "open"],
        ),
        outputs=["done", "open"],
    )
    flow.op(
        "by_prio",
        "routed.open",
        lambda s, df: summarize(df, ["o_orderpriority"], {"n": ("count", "o_orderkey")}),
    )
    results = {}
    flow.sink("count_done", "routed.done", lambda df: results.__setitem__("done", df.count()))
    flow.sink("agg_open", "by_prio", lambda df: results.__setitem__("open_prios", df.count()))
    flow.run(spark)
    assert results["done"] > 0 and results["open_prios"] > 0


def test_flow_multi_sink_keeps_caller_job_group(spark):
    """Sinks fired from the flow's thread pool carry the caller's job
    group, so ``cancelJobGroup`` reaches a multi-sink flow."""
    sc = spark.sparkContext
    group = "flow_multi_sink"
    flow = FlowGraph()
    flow.source("a", lambda s: s.range(20))
    flow.sink("n", "a", lambda df: df.count())
    flow.sink("rows", "a", lambda df: df.collect())
    sc.setJobGroup(group, "two-sink flow")
    try:
        flow.run(spark)
    finally:
        sc._jsc.clearJobGroup()
    assert sc.statusTracker().getJobIdsForGroup(group)


def test_flow_failing_sink_starts_no_further_sink(spark):
    """Six sinks through a window of two: sink 0 fails while sink 1
    runs, so sinks 2-5 never start and sink 1 finishes first."""
    import threading
    import time

    started, ended = [], []
    lock = threading.Lock()

    def action(i):
        def run(df):
            with lock:
                started.append(i)
            if i == 0:
                time.sleep(0.2)
                raise RuntimeError("sink 0 failed")
            df.count()
            time.sleep(0.5)
            with lock:
                ended.append(i)
        return run

    flow = FlowGraph()
    flow.source("a", lambda s: s.range(20))
    for i in range(6):
        flow.sink(f"s{i}", "a", action(i))
    with pytest.raises(RuntimeError, match="sink 0 failed"):
        flow.run(spark, max_concurrent_sinks=2)
    assert sorted(started) == [0, 1]
    assert ended == [1]


def test_flow_rejects_unknown_input():
    flow = FlowGraph()
    with pytest.raises(ValueError, match="unknown input"):
        flow.op("x", "missing", lambda s, df: df)


def test_flow_rejects_bad_port(spark):
    flow = FlowGraph()
    flow.source("a", lambda s: s.range(1))
    flow.op("b", "a", lambda s, df: {"x": df}, outputs=["x"])
    with pytest.raises(ValueError, match="no output port"):
        flow.op("c", "b.y", lambda s, df: df)
    with pytest.raises(ValueError, match="multi-output"):
        flow.op("d", "b", lambda s, df: df)


def test_flow_requires_sink(spark):
    flow = FlowGraph()
    flow.source("a", lambda s: s.range(1))
    with pytest.raises(ValueError, match="no sinks"):
        flow.run(spark)


def test_iterative_recompute_classification(spark, sf_dir):
    runner = IterativeRunner()
    builds = {"events": 0, "filtered": 0}

    def load_events(s, params):
        builds["events"] += 1
        return s.read.parquet(f"{sf_dir}/orders.parquet")

    def filter_by_status(s, params, df):
        builds["filtered"] += 1
        return df.filter(F.col("o_orderstatus") == params["status"])

    runner.node("events", load_events)  # NEVER: no params
    runner.node("filtered", filter_by_status, inputs=["events"], param_keys=["status"])

    seen = []
    rounds = [{"status": "F"}, {"status": "O"}, {"status": "F"}]
    runner.run(spark, rounds, lambda i, p, f: seen.append(f["filtered"].count()))

    assert len(seen) == 3
    assert builds["events"] == 1  # cached across all rounds
    assert builds["filtered"] == 2  # F cached, reused in round 3
    assert seen[0] == seen[2]


def test_iterative_always_recomputes(spark):
    runner = IterativeRunner()
    builds = {"n": 0}

    def src(s, params):
        builds["n"] += 1
        return s.range(5)

    runner.node("src", src, always=True)
    runner.run(spark, [{}, {}], lambda i, p, f: f["src"].count())
    assert builds["n"] == 2


def test_iterative_transitive_param_dependency(spark):
    runner = IterativeRunner()
    builds = {"derived": 0}

    runner.node("base", lambda s, p: s.range(10).filter(F.col("id") < p["cut"]), param_keys=["cut"])

    def derive(s, p, df):
        builds["derived"] += 1
        return df.withColumn("x", F.col("id") * 2)

    # derived declares NO param keys but must inherit base's 'cut'
    runner.node("derived", derive, inputs=["base"])
    counts = []
    runner.run(spark, [{"cut": 3}, {"cut": 7}], lambda i, p, f: counts.append(f["derived"].count()))
    assert counts == [3, 7]
    assert builds["derived"] == 2


def test_run_cli_drives_flow_end_to_end(tmp_path):
    """The spark-execute analogue: `python -m asakusafw_spark_spark.run
    module:factory --arg k=v` resolves the flow factory from cwd,
    builds the FlowGraph, and fires its sinks in a fresh interpreter."""
    import subprocess
    import sys

    flow_mod = tmp_path / "demo_flow.py"
    out_dir = tmp_path / "out"
    flow_mod.write_text(
        f'''
from pyspark.sql import functions as F
from asakusafw_spark_spark.plans.flow import FlowGraph
from asakusafw_spark_spark.sources.write import write_flat

def flow(threshold="5"):
    g = FlowGraph()
    g.source("nums", lambda spark: spark.range(10).select(
        F.col("id"), (F.col("id") * 2).alias("v")))
    g.op("big", "nums", lambda spark, df: df.filter(
        F.col("v") >= int(threshold)))
    g.sink("save", "big", lambda df: write_flat(
        df, r"{out_dir}", format="parquet"))
    return g
''')
    r = subprocess.run(
        [sys.executable, "-m", "asakusafw_spark_spark.run",
         "demo_flow:flow", "--arg", "threshold=10",
         "--master", "local[2]", "--shuffle-partitions", "2"],
        cwd=tmp_path, capture_output=True, text=True, timeout=300,
        env={**__import__("os").environ,
             "PYTHONPATH": __import__("os").path.dirname(
                 __import__("os").path.dirname(
                     __import__("asakusafw_spark_spark").__file__))},
    )
    assert r.returncode == 0, r.stderr[-2000:]
    import duckdb
    n, lo = duckdb.sql(
        f"SELECT count(*), min(v) FROM read_parquet('{out_dir}/*.parquet')"
    ).fetchone()
    assert (n, lo) == (5, 10)  # v in {10,12,14,16,18}

    # a bad attr fails with a clear message, not a stack trace
    r2 = subprocess.run(
        [sys.executable, "-m", "asakusafw_spark_spark.run", "demo_flow:nope"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env=r.args and {**__import__("os").environ,
             "PYTHONPATH": __import__("os").path.dirname(
                 __import__("os").path.dirname(
                     __import__("asakusafw_spark_spark").__file__))},
    )
    assert r2.returncode != 0
    assert "no attribute 'nope'" in r2.stderr


def test_iterative_transactional_sinks_commit_and_abort(spark, tmp_path):
    """Reference DirectOutputSetup/Prepare/CommitForIterative: every
    round STAGES, one commit after the last round promotes everything;
    a crash mid-rounds exposes nothing, leaks nothing visible, and the
    rerun sweeps the orphan staging."""
    from asakusafw_spark_spark.plans.iterative import IterativeRunner
    from asakusafw_spark_spark.sources.write import HadoopFs

    base = str(tmp_path / "txout")

    def make_runner(fail_on_round=None):
        runner = IterativeRunner()

        def build(sp, p):
            if fail_on_round is not None and p["r"] == fail_on_round:
                raise RuntimeError("boom")
            return sp.range(10).withColumn(
                "v", F.col("id") * (p["r"] + 1)
            )

        runner.node("out", build, param_keys=["r"])
        runner.sink("out", "rounds/r={r}")
        return runner

    rounds = [{"r": 0}, {"r": 1}, {"r": 2}]

    # crash in round 2: nothing visible, no marker
    with pytest.raises(RuntimeError, match="boom"):
        make_runner(fail_on_round=2).run_transactional(
            spark, rounds, base
        )
    fs = HadoopFs(spark, base)
    assert not fs.exists(f"{base}/_TRANSACTION_SUCCESS")
    assert not fs.exists(f"{base}/rounds")
    leftovers = [n for n in fs.listdir(base) if n.startswith("_tx_")]
    assert leftovers, "crashed run should leave (invisible) staging"

    # rerun: sweeps the orphan, commits atomically
    progressed = []
    tx = make_runner().run_transactional(
        spark, rounds, base, on_round=lambda i, p: progressed.append(i)
    )
    assert progressed == [0, 1, 2]
    assert fs.exists(f"{base}/_TRANSACTION_SUCCESS")
    assert [n for n in fs.listdir(base) if n.startswith("_tx_")] == []
    back = spark.read.parquet(f"{base}/rounds")  # r= partition discovery
    assert back.count() == 30
    got = {
        (r["r"], r["id"]): r["v"]
        for r in back.collect()
    }
    assert got[(0, 5)] == 5 and got[(1, 5)] == 10 and got[(2, 9)] == 27
    assert tx._committed


def test_iterative_view_broadcast_memoized_by_parameter(spark):
    """Reference MapBroadcastByParameter: ONE collect+broadcast per
    distinct param value across rounds; param-free views build once
    (MapBroadcastOnce)."""
    from asakusafw_spark_spark.plans.iterative import IterativeRunner

    runner = IterativeRunner()
    runner.view(
        "lookup",
        lambda sp, p: sp.createDataFrame(
            [(i, i * p["mult"]) for i in range(5)], "k int, scaled int"
        ),
        key=["k"],
        param_keys=["mult"],
    )
    runner.view(
        "static",
        lambda sp, p: sp.createDataFrame([(1, "x")], "k int, tag string"),
        key=["k"],
    )

    seen = []

    def use(sp, p, lookup, static):
        # consult the broadcasts driver-side (the group_view contract:
        # .value inside any UDF or plain python)
        seen.append(
            (p["mult"], lookup.value[(3,)][0]["scaled"],
             static.value[(1,)][0]["tag"])
        )
        return sp.range(1)

    runner.node("n", use, views=["lookup", "static"], always=True)
    rounds = [{"mult": 2}, {"mult": 3}, {"mult": 2}, {"mult": 2}]
    runner.run(spark, rounds, collect=lambda i, p, f: None)
    # 4 rounds, 2 distinct mult values -> 2 builds; static -> 1 build
    assert runner.view_build_counts == {"lookup": 2, "static": 1}
    assert seen == [(2, 6, "x"), (3, 9, "x"), (2, 6, "x"), (2, 6, "x")]


def test_iterative_executor_stop_await_and_progress(spark):
    """Reference IterativeBatchExecutor: submit/stop/await semantics —
    3 rounds submitted, stop after round 2 drains the queue to the
    sentinel, never executing round 3; caches stay warm across
    separately-submitted rounds."""
    import time

    from asakusafw_spark_spark.plans.iterative import (
        IterativeBatchExecutor, IterativeRunner,
    )

    runner = IterativeRunner()
    built = []
    runner.node(
        "base",
        lambda sp, p: (built.append("base"), sp.range(100))[1],
    )  # NEVER kind: must build once across ALL submitted rounds
    runner.node(
        "scaled",
        lambda sp, p, b: b.withColumn("v", F.col("id") * p["m"]),
        inputs=["base"],
        param_keys=["m"],
    )
    results = {}
    progress = []

    def collect(i, p, frames):
        results[i] = frames["scaled"].agg(F.sum("v")).first()[0]

    ex = IterativeBatchExecutor(
        runner, spark, collect, on_round=lambda i, p: progress.append(i)
    )
    ex.submit({"m": 1})
    ex.submit({"m": 2})
    ex.start()
    # wait until both rounds complete, then stop BEFORE submitting more
    deadline = time.time() + 60
    while ex.rounds_completed < 2 and time.time() < deadline:
        time.sleep(0.05)
    assert ex.rounds_completed == 2
    ex.stop()
    with pytest.raises(RuntimeError, match="stopped"):
        ex.submit({"m": 3})  # post-stop submissions refused
    ex.await_completion(timeout=60)
    assert results == {0: 4950, 1: 9900}
    assert progress == [0, 1]
    assert built == ["base"], "NEVER node must stay cached across submits"


def test_iterative_executor_error_surfaces_on_await(spark):
    from asakusafw_spark_spark.plans.iterative import (
        IterativeBatchExecutor, IterativeRunner,
    )

    runner = IterativeRunner()

    def explode(sp, p):
        raise ValueError("round failed")

    runner.node("bad", explode, always=True)
    ex = IterativeBatchExecutor(runner, spark, lambda i, p, f: None)
    ex.submit({})
    ex.start()
    ex.stop()
    with pytest.raises(ValueError, match="round failed"):
        ex.await_completion(timeout=60)


def test_iterative_executor_keeps_caller_job_group(spark):
    """Rounds run on the executor's thread carry the job group of the
    thread that started it, so ``cancelJobGroup`` reaches them."""
    from asakusafw_spark_spark.plans.iterative import (
        IterativeBatchExecutor, IterativeRunner,
    )

    runner = IterativeRunner()
    runner.node("n", lambda sp, p: sp.range(10 * (p["r"] + 1)), always=True)
    groups = []

    def collect(i, p, frames):
        frames["n"].count()
        groups.append(spark.sparkContext.getLocalProperty("spark.jobGroup.id"))

    sc = spark.sparkContext
    group = "iterative_executor"
    sc.setJobGroup(group, "executor rounds")
    try:
        ex = IterativeBatchExecutor(runner, spark, collect)
        for r in range(3):
            ex.submit({"r": r})
        ex.start()
    finally:
        sc._jsc.clearJobGroup()
    ex.stop()
    ex.await_completion(timeout=120)
    assert groups == [group] * 3
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 3


def test_iterative_request_stop_between_rounds(spark):
    """run() graceful stop: in-flight round completes (collect runs),
    the remainder is skipped with StopRequested."""
    from asakusafw_spark_spark.plans.iterative import (
        IterativeRunner, StopRequested,
    )

    runner = IterativeRunner()
    runner.node("n", lambda sp, p: sp.range(3), always=True)
    done = []

    def collect(i, p, frames):
        done.append(i)
        if i == 1:
            runner.request_stop()

    with pytest.raises(StopRequested):
        runner.run(spark, [{}, {}, {}, {}], collect)
    assert done == [0, 1]


def test_transactional_sink_without_round_variable_fails_fast(spark, tmp_path):
    """A sink template that forgets its round variable would stage the
    same dataset name every round — caught loudly at round 2's prepare,
    before any promotion."""
    from asakusafw_spark_spark.plans.iterative import IterativeRunner

    runner = IterativeRunner()
    runner.node("out", lambda sp, p: sp.range(3), always=True)
    runner.sink("out", "rounds/static")  # no {r}!
    with pytest.raises(ValueError, match="already staged"):
        runner.run_transactional(
            spark, [{"r": 0}, {"r": 1}], str(tmp_path / "tx")
        )


def test_iterative_view_lru_eviction(spark):
    """max_entries bounds LIVE broadcasts: the least-recently-used
    parameter value is unpersisted on eviction, a re-visited value
    rebuilds (one extra collect), and recency refresh keeps hot values
    alive."""
    from asakusafw_spark_spark.plans.iterative import IterativeRunner

    runner = IterativeRunner()
    runner.view(
        "lk",
        lambda sp, p: sp.createDataFrame(
            [(1, p["m"])], "k int, m int"
        ),
        key=["k"],
        param_keys=["m"],
        max_entries=2,
    )
    runner.node(
        "n",
        lambda sp, p, lk: sp.range(1),
        views=["lk"],
        always=True,
    )
    # m sequence: 1,2,1,3 (evicts 2 — 1 was refreshed), then 1 (hit),
    # then 2 (rebuild)
    rounds = [{"m": m} for m in (1, 2, 1, 3, 1, 2)]
    runner.run(spark, rounds, collect=lambda i, p, f: None)
    # builds: m=1, m=2, m=3, m=2(rebuilt after eviction) -> 4
    assert runner.view_build_counts == {"lk": 4}


def test_iterative_view_max_entries_validates():
    """max_entries < 1 is a configuration error surfaced at view()
    registration with the parameter named — not an IndexError from the
    LRU eviction loop at first build (ADVICE r08)."""
    import pytest

    from asakusafw_spark_spark.plans.iterative import IterativeRunner

    r = IterativeRunner()
    for bad in (0, -1):
        with pytest.raises(ValueError, match="max_entries"):
            r.view(
                "v", lambda spark, params: None, key=["k"], max_entries=bad
            )
    assert r.views == []


def _staging_listing(base):
    """Every path under the transaction staging roots of ``base``."""
    import os

    out = []
    for d in os.listdir(base):
        if d.startswith("_tx_"):
            for root, dirs, files in os.walk(os.path.join(base, d)):
                out.extend(
                    os.path.relpath(os.path.join(root, n), base)
                    for n in dirs + files
                )
    return sorted(out)


def test_transactional_write_failure_on_worker_thread(spark, tmp_path):
    """Round 2's frame builds fine and fails only when its staged write
    executes on the pool: the error propagates, nothing commits, and
    every other in-flight write has finished by the time it does."""
    import time

    from asakusafw_spark_spark.sources.write import HadoopFs

    def build(sp, p):
        df = sp.range(10)
        if p["r"] == 2:
            return df.withColumn(
                "v",
                F.when(F.col("id") >= 0, F.raise_error(F.lit("late boom")))
                .otherwise(F.col("id")),
            )
        return df.withColumn("v", F.col("id") * p["r"])

    runner = IterativeRunner()
    runner.node("out", build, param_keys=["r"])
    runner.sink("out", "rounds/r={r}")
    base = str(tmp_path / "tx")
    with pytest.raises(Exception, match="late boom"):
        runner.run_transactional(spark, [{"r": r} for r in range(6)], base)
    fs = HadoopFs(spark, base)
    assert not fs.exists(f"{base}/_TRANSACTION_SUCCESS")
    assert not fs.exists(f"{base}/rounds")
    staged = _staging_listing(base)
    time.sleep(1)
    assert _staging_listing(base) == staged, "a write landed after return"


def test_transactional_more_rounds_than_slots(spark, tmp_path):
    """10 rounds through a window of defaultParallelism (4 here):
    progress stays in round order, the NEVER node builds once, every
    round's dataset commits with its own rows, and every staged write
    runs in the caller's job group."""
    runner = IterativeRunner()
    runner.node("base", lambda sp, p: sp.range(100))
    runner.node(
        "out",
        lambda sp, p, b: b.filter(F.col("id") < (p["r"] + 1) * 5),
        inputs=["base"],
        param_keys=["r"],
    )
    runner.sink("out", "rounds/r={r}")
    base = str(tmp_path / "tx")
    progressed = []
    sc = spark.sparkContext
    group = "transactional_rounds"
    sc.setJobGroup(group, "10 pipelined rounds")
    try:
        tx = runner.run_transactional(
            spark, [{"r": r} for r in range(10)], base,
            on_round=lambda i, p: progressed.append(i),
        )
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 10
    assert tx._committed
    assert progressed == list(range(10))
    assert runner.build_counts["base"] == 1
    for r in range(10):
        assert spark.read.parquet(f"{base}/rounds/r={r}").count() == (r + 1) * 5


def test_transactional_view_eviction_with_rounds_in_flight(spark, tmp_path):
    """max_entries=1 with alternating parameter values evicts a view
    every round while earlier rounds may still be writing through it:
    the in-flight round re-fetches the broadcast, output stays exact."""
    runner = IterativeRunner()
    runner.view(
        "lk",
        lambda sp, p: sp.createDataFrame(
            [(k, k * p["m"]) for k in range(5)], "k int, scaled int"
        ),
        key=["k"],
        param_keys=["m"],
        max_entries=1,
    )

    def scaled(sp, p, lk):
        @F.udf("int")
        def look(k):
            return lk.value[(k,)][0]["scaled"]

        return sp.range(5).select(
            F.col("id").cast("int").alias("k")
        ).withColumn("scaled", look("k"))

    runner.node("out", scaled, views=["lk"], param_keys=["r"])
    runner.sink("out", "rounds/r={r}")
    base = str(tmp_path / "tx")
    rounds = [{"r": r, "m": 1 + r % 2} for r in range(8)]
    runner.run_transactional(spark, rounds, base)
    assert runner.view_build_counts == {"lk": 8}
    for p in rounds:
        got = {
            row["k"]: row["scaled"]
            for row in spark.read.parquet(f"{base}/rounds/r={p['r']}").collect()
        }
        assert got == {k: k * p["m"] for k in range(5)}


def test_transactional_request_stop_drains_in_flight(spark, tmp_path):
    """request_stop from on_round at round 1: no later progress, the
    rounds already staging finish before StopRequested propagates, and
    nothing is committed."""
    import time

    from asakusafw_spark_spark.plans.iterative import StopRequested
    from asakusafw_spark_spark.sources.write import HadoopFs

    runner = IterativeRunner()
    runner.node(
        "out",
        lambda sp, p: sp.range(50).withColumn("v", F.col("id") * p["r"]),
        param_keys=["r"],
    )
    runner.sink("out", "rounds/r={r}")
    progressed = []

    def on_round(i, p):
        progressed.append(i)
        if i == 1:
            runner.request_stop()

    base = str(tmp_path / "tx")
    with pytest.raises(StopRequested):
        runner.run_transactional(
            spark, [{"r": r} for r in range(10)], base, on_round=on_round
        )
    assert progressed == [0, 1]
    fs = HadoopFs(spark, base)
    assert not fs.exists(f"{base}/_TRANSACTION_SUCCESS")
    assert not fs.exists(f"{base}/rounds")
    staged = _staging_listing(base)
    assert not [p for p in staged if "_temporary" in p]
    time.sleep(1)
    assert _staging_listing(base) == staged, "a write landed after return"
