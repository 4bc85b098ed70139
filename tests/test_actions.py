"""run_actions: the one action window behind every engine thread pool."""

import sys
import threading
import time
from contextvars import ContextVar

import pytest

from asakusafw_spark_spark.actions import run_actions
from asakusafw_spark_spark.caching import cache_scope, own


def _tracked(n, body):
    """``n`` actions calling ``body(i)``; ``state`` records which ones
    started, the peak number running at once and the end order."""
    state = {"started": [], "ended": [], "running": 0, "peak": 0}
    lock = threading.Lock()

    def fn(i):
        with lock:
            state["started"].append(i)
            state["running"] += 1
            state["peak"] = max(state["peak"], state["running"])
        try:
            return body(i)
        finally:
            with lock:
                state["running"] -= 1
                state["ended"].append(i)

    return state, [(fn, (i,), None) for i in range(n)]


def test_never_more_than_width_run_at_once(spark):
    state, actions = _tracked(10, lambda i: time.sleep(0.2))
    run_actions(spark, 3, actions)
    assert sorted(state["started"]) == list(range(10))
    assert state["peak"] == 3


def test_slot_frees_on_any_completion(spark):
    """Width 2: action 0 runs until action 2 has started, which needs
    the slot action 1 frees while action 0 still runs."""
    third = threading.Event()

    def body(i):
        if i == 0:
            assert third.wait(30), "action 2 waited for action 0"
        elif i == 2:
            third.set()

    state, actions = _tracked(3, body)
    run_actions(spark, 2, actions)
    assert state["ended"].index(2) < state["ended"].index(0)


def test_then_fires_in_submission_order_on_caller_thread(spark):
    fired = []
    caller = threading.get_ident()
    actions = [
        (lambda i: (time.sleep(0.02 * (5 - i)), i)[1], (i,),
         lambda r: fired.append((r, threading.get_ident())))
        for i in range(6)
    ]
    run_actions(spark, 4, actions)
    assert fired == [(i, caller) for i in range(6)]


def test_failure_starts_nothing_and_drains_running(spark):
    """Action 0 fails while action 1 runs: actions 2-5 never start, and
    action 1 has finished when the error reaches the caller."""
    def body(i):
        if i == 0:
            time.sleep(0.2)
            raise RuntimeError("action 0 failed")
        time.sleep(0.6)

    state, actions = _tracked(6, body)
    with pytest.raises(RuntimeError, match="action 0 failed"):
        run_actions(spark, 2, actions)
    assert sorted(state["started"]) == [0, 1]
    assert sorted(state["ended"]) == [0, 1]


def test_then_failure_starts_nothing(spark):
    def stop(r):
        raise KeyError("stop")

    state, actions = _tracked(6, lambda i: time.sleep(0.05))
    actions[0] = (actions[0][0], actions[0][1], stop)
    with pytest.raises(KeyError):
        run_actions(spark, 2, actions)
    assert len(state["started"]) <= 3
    assert len(state["ended"]) == len(state["started"])


def test_action_sees_job_group_and_context(spark):
    var = ContextVar("test_actions_var", default=None)
    sc = spark.sparkContext
    seen = []

    def fn():
        spark.range(3).count()
        return sc.getLocalProperty("spark.jobGroup.id"), var.get()

    token = var.set("caller value")
    sc.setJobGroup("run_actions_group", "run_actions test")
    try:
        run_actions(spark, 2, [(fn, (), seen.append) for _ in range(3)])
    finally:
        sc._jsc.clearJobGroup()
        var.reset(token)
    assert seen == [("run_actions_group", "caller value")] * 3
    assert len(sc.statusTracker().getJobIdsForGroup("run_actions_group")) >= 3


def test_actions_register_with_the_caller_scope_under_contention(spark):
    """64 actions on 16 threads, switching every microsecond, each
    register a frame with the caller's ``cache_scope``: none is lost and
    the scope's exit releases them all."""
    class Held:
        def unpersist(self):
            pass

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with cache_scope() as scope:
            run_actions(spark, 16, [(lambda: own(Held()), (), None)] * 64)
    finally:
        sys.setswitchinterval(interval)
    assert scope.released == 64
