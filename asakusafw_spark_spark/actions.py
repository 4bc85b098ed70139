"""One action window for every engine thread pool: ``FlowGraph.run``'s
sinks, ``run_transactional``'s staged rounds and the filesystem
promotions of ``sources.write`` all go through :func:`run_actions`, as
the reference fires every node future on one executor pool
(``SparkClient.scala:50-66``, ``Job.scala:25-37``)."""

from __future__ import annotations

import contextvars
from collections import deque
from collections.abc import Iterable
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

from pyspark import inheritable_thread_target


def run_actions(spark, width: int, actions: Iterable) -> None:
    """Run ``(fn, args, then)`` actions, at most ``width`` at once.

    ``actions`` is consumed lazily on the caller's thread, so building
    the next action happens before it waits for a slot; a slot frees
    when ANY action finishes.  ``fn(*args)`` runs on a pool thread with
    the caller's JVM local properties (job group, scheduler pool) and a
    copy of its ``contextvars`` (its ``cache_scope``); ``then(result)``
    (if not None) fires on the caller's thread in submission order.
    After a failure (of an action, a ``then`` or ``actions``) no further
    action starts, and every running one finishes before it propagates.
    """
    width = max(1, width)
    pending: deque = deque()  # (future, then), submission order
    with ThreadPoolExecutor(max_workers=width) as pool:
        for fn, args, then in actions:
            _settle(pending, width - 1)
            # wrapped per action: the wrapper snapshots the properties
            target = inheritable_thread_target(spark)(fn)
            ctx = contextvars.copy_context()
            pending.append((pool.submit(ctx.run, target, *args), then))
        _settle(pending, 0)


def _settle(pending: deque, limit: int) -> None:
    """Fire ``then`` for the finished prefix, raise the first failure,
    and wait until at most ``limit`` actions are still running."""
    while True:
        while pending and pending[0][0].done():
            fut, then = pending.popleft()
            result = fut.result()  # re-raises the action's failure
            if then is not None:
                then(result)
        for fut, _ in pending:
            if fut.done():
                fut.result()  # a later action failed: stop here
        running = [fut for fut, _ in pending if not fut.done()]
        if len(running) <= limit:
            return
        wait(running, return_when=FIRST_COMPLETED)
