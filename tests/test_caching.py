"""Cache lifetimes: every frame the engine persists is released by its
owner.  Assertions read Spark's own cache manager (and the driver's
persistent-RDD map), not an engine-side list."""

import threading

import pytest
from pyspark.core.broadcast import Broadcast
from pyspark.sql import functions as F

from asakusafw_spark_spark.caching import cache_scope, persist, release_unscoped
from asakusafw_spark_spark.functions import (
    cached_intermediates_scope,
    minhash_lsh_pairs,
    pagerank,
    release_cached_intermediates,
)
from asakusafw_spark_spark.plans import FlowGraph, IterativeRunner
from asakusafw_spark_spark.plans.iterative import (
    IterativeBatchExecutor, StopRequested,
)


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def _persistent_rdds(spark):
    """ids in the driver's persistent-RDD map (earlier tests' local
    checkpoints stay there until GC, so compare sets, not sizes)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _reads_cache(df):
    """Whether ``df``, planned against the cache manager now, reads a
    cached frame."""
    plan = df.select("*")._jdf.queryExecution().withCachedData()
    return "InMemoryRelation" in plan.toString()


@pytest.fixture
def cache_manager(spark):
    """The session's cache manager, emptied of earlier tests' entries."""
    release_cached_intermediates()
    spark.catalog.clearCache()
    cm = _cache_manager(spark)
    assert cm.isEmpty()
    return cm


def _docs(spark, tag):
    # distinct data per caller: equal plans share one cache entry
    return spark.createDataFrame(
        [(i, f"{tag} doc number {i} words {' '.join(str(j) for j in range(8))}")
         for i in range(6)],
        "doc_id long, text string",
    )


def _fanout_flow(fail=False):
    flow = FlowGraph()
    flow.source("a", lambda s: s.range(50))
    flow.op("b", "a", lambda s, df: df.withColumn("v", F.col("id") * 2))
    flow.op("c", "b", lambda s, df: df.where(F.col("v") > 10))
    flow.op("d", "b", lambda s, df: df.groupBy().sum("v"))

    def boom(df):
        df.count()
        raise RuntimeError("sink failed")

    flow.sink("n", "c", boom if fail else (lambda df: df.count()))
    flow.sink("rows", "d", lambda df: df.collect())
    flow.sink("again", "c", lambda df: df.collect())
    return flow


def test_flow_run_leaves_cache_manager_as_found(spark, cache_manager):
    """Fan-out persists (``b`` feeds two ops, ``c`` two sinks) are
    released when ``run`` returns, after success and after a failing
    sink; three flows in one session, nothing cleared between them."""
    rdds = _persistent_rdds(spark)
    _fanout_flow().run(spark)
    assert cache_manager.isEmpty()
    assert _persistent_rdds(spark) <= rdds
    with pytest.raises(RuntimeError, match="sink failed"):
        _fanout_flow(fail=True).run(spark)
    assert cache_manager.isEmpty()
    assert _persistent_rdds(spark) <= rdds
    _fanout_flow().run(spark)
    assert cache_manager.isEmpty()
    assert _persistent_rdds(spark) <= rdds


def test_concurrent_scopes_release_only_their_own_frames(spark, cache_manager):
    """Thread A's scope exits while thread B's is still open: B's
    intermediates stay cached until B exits."""
    a_ready, b_ready, a_done = (threading.Event() for _ in range(3))
    seen, errors = {}, []

    def run_a():
        try:
            with cached_intermediates_scope():
                pairs = minhash_lsh_pairs(_docs(spark, "alpha"))
                pairs.collect()
                seen["a_inside"] = _reads_cache(pairs)
                a_ready.set()
                assert b_ready.wait(120)
            seen["a_after"] = _reads_cache(pairs)
        except BaseException as e:
            errors.append(e)
        finally:
            a_ready.set()
            a_done.set()

    def run_b():
        try:
            assert a_ready.wait(120)
            with cached_intermediates_scope():
                pairs = minhash_lsh_pairs(_docs(spark, "beta"))
                pairs.collect()
                b_ready.set()
                assert a_done.wait(120)
                seen["b_after_a_exit"] = _reads_cache(pairs)
            seen["b_after"] = _reads_cache(pairs)
        except BaseException as e:
            errors.append(e)
        finally:
            b_ready.set()

    threads = [threading.Thread(target=run_a), threading.Thread(target=run_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    assert not errors, errors
    assert seen == {
        "a_inside": True,
        "a_after": False,
        "b_after_a_exit": True,
        "b_after": False,
    }
    assert cache_manager.isEmpty()


def test_nested_scope_releases_only_its_inner_frames(spark, cache_manager):
    unscoped = minhash_lsh_pairs(_docs(spark, "outside"))
    with cached_intermediates_scope() as outer:
        outer_pairs = minhash_lsh_pairs(_docs(spark, "outer"))
        with cached_intermediates_scope() as inner:
            inner_pairs = minhash_lsh_pairs(_docs(spark, "inner"))
            assert _reads_cache(inner_pairs)
        assert inner.released > 0
        assert not _reads_cache(inner_pairs)
        assert _reads_cache(outer_pairs)
    assert outer.released > 0
    assert not _reads_cache(outer_pairs)
    assert _reads_cache(unscoped)  # owned by the process-wide set
    assert release_cached_intermediates() > 0
    assert cache_manager.isEmpty()


def test_pagerank_empty_sources_persists_nothing(spark, cache_manager):
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    empty = spark.createDataFrame([], "node long")
    with pytest.raises(ValueError, match="sources is empty"):
        pagerank(edges, sources=empty)
    assert cache_manager.isEmpty()


@pytest.fixture
def unpersisted(monkeypatch):
    """ids of every broadcast unpersisted while the test runs."""
    ids = set()
    original = Broadcast.unpersist

    def spy(self, blocking=False):
        ids.add(id(self))
        return original(self, blocking)

    monkeypatch.setattr(Broadcast, "unpersist", spy)
    return ids


def _viewed_runner(seen, fail_round=None):
    """A NEVER node, a PARAMETER node and a by-parameter view; the
    broadcasts the nodes receive are added to ``seen``."""
    runner = IterativeRunner()
    runner.view(
        "lookup",
        lambda sp, p: sp.createDataFrame([(1, p["r"] % 2)], "k int, v int"),
        key=["k"],
        param_keys=["parity"],
    )

    def scaled(sp, p, base, lookup):
        seen[id(lookup)] = lookup
        if p["r"] == fail_round:
            raise ValueError("round failed")
        return base.withColumn("v", F.col("id") * lookup.value[(1,)][0]["v"])

    runner.node("base", lambda sp, p: sp.range(20))
    runner.node(
        "out", scaled, inputs=["base"], param_keys=["r"], views=["lookup"]
    )
    return runner


def _rounds(n):
    return [{"r": r, "parity": r % 2} for r in range(n)]


def test_run_releases_nodes_and_views(spark, cache_manager, unpersisted):
    seen = {}
    runner = _viewed_runner(seen)
    runner.run(spark, _rounds(4), lambda i, p, f: f["out"].count())
    assert runner.build_counts == {"base": 1, "out": 4}
    assert len(seen) == 2
    assert set(seen) <= unpersisted
    assert cache_manager.isEmpty()


def test_run_transactional_releases_on_success_and_failure(
    spark, cache_manager, unpersisted, tmp_path
):
    seen = {}
    runner = _viewed_runner(seen)
    runner.sink("out", "rounds/r={r}")
    tx = runner.run_transactional(spark, _rounds(4), str(tmp_path / "ok"))
    assert tx._committed
    assert len(seen) == 2 and set(seen) <= unpersisted
    assert cache_manager.isEmpty()

    seen.clear()
    runner = _viewed_runner(seen, fail_round=2)
    runner.sink("out", "rounds/r={r}")
    with pytest.raises(ValueError, match="round failed"):
        runner.run_transactional(spark, _rounds(4), str(tmp_path / "bad"))
    assert len(seen) == 2 and set(seen) <= unpersisted
    assert cache_manager.isEmpty()


def test_executor_releases_on_stop_and_error(spark, cache_manager, unpersisted):
    seen = {}
    ex = IterativeBatchExecutor(
        _viewed_runner(seen), spark, lambda i, p, f: f["out"].count()
    )
    for params in _rounds(3):
        ex.submit(params)
    ex.start()
    ex.stop()
    ex.await_completion(timeout=120)
    assert ex.rounds_completed == 3
    assert len(seen) == 2 and set(seen) <= unpersisted
    assert cache_manager.isEmpty()

    seen.clear()
    ex = IterativeBatchExecutor(
        _viewed_runner(seen, fail_round=1), spark,
        lambda i, p, f: f["out"].count(),
    )
    for params in _rounds(3):
        ex.submit(params)
    ex.start()
    ex.stop()
    with pytest.raises(ValueError, match="round failed"):
        ex.await_completion(timeout=120)
    assert ex.rounds_completed == 1
    assert len(seen) == 2 and set(seen) <= unpersisted
    assert cache_manager.isEmpty()


def test_request_stop_releases(spark, cache_manager, unpersisted):
    seen = {}
    runner = _viewed_runner(seen)

    def collect(i, p, frames):
        frames["out"].count()
        if i == 1:
            runner.request_stop()

    with pytest.raises(StopRequested):
        runner.run(spark, _rounds(4), collect)
    assert len(seen) == 2 and set(seen) <= unpersisted
    assert cache_manager.isEmpty()


def test_flow_sink_persists_release_with_the_flow(spark, cache_manager):
    """Two sinks that persist on pool threads register with ``run``'s
    scope, as a single inline sink would, not the process-wide set."""
    flow = FlowGraph()
    flow.source("a", lambda s: s.range(40))
    for k in (3, 5):
        flow.sink(
            f"s{k}", "a",
            lambda df, k=k: persist(df.withColumn("v", F.col("id") * k)).count(),
        )
    flow.run(spark, max_concurrent_sinks=2)
    assert cache_manager.isEmpty()
    assert release_unscoped() == 0


def test_scope_keeps_an_equal_outer_entry(spark, cache_manager):
    """A scope that persists a plan equal to one cached outside it does
    not release the shared entry on exit."""
    def frame():
        return spark.range(30).withColumn("v", F.col("id") * 7)

    outer = persist(frame())
    outer.count()
    with cache_scope() as scope:
        persist(frame()).count()
    assert scope.released == 0
    assert _reads_cache(outer)
    assert release_unscoped() == 1
    assert cache_manager.isEmpty()
