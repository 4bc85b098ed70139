"""Iterative batch execution (SURVEY.md §3.3).

The reference's iterativebatch extension re-executes one compiled job
over a queue of parameter sets ("rounds"), caching nodes across rounds
by their recompute kind — ALWAYS / PARAMETER / NEVER
(planner/.../IterativeInfo.java:41-45; RoundAwareCacheOnce /
CacheByParameter strategies).

Spark-native equivalent: a Python loop over parameter dicts.  Each node
declares which parameter keys it depends on; the runner memoizes the
node's DataFrame by the values of those keys:

- depends on no keys  → NEVER recompute: built once, persisted, shared
  by every round;
- depends on some keys → PARAMETER: rebuilt only when those values
  change (memo keyed by the value tuple);
- ``always=True``      → ALWAYS: rebuilt each round (non-deterministic
  sources).

Three reference compositions ride on top:

- **Broadcast views by parameter** (`MapBroadcastByParameter.scala`,
  `MapBroadcastAlways.scala`, `MapBroadcastOnce.scala`):
  :meth:`IterativeRunner.view` registers a driver-bounded broadcast
  side input (``operators.view.group_view``) memoized by the SAME
  param-key scheme as nodes — one collect+broadcast per distinct
  parameter value across all rounds, released when the run ends.
- **Transactional Direct I/O across rounds**
  (`DirectOutputSetupForIterative.scala`,
  `DirectOutputPrepareForIterative.scala`,
  `DirectOutputCommitForIterative.scala`): set up ONCE, every round
  STAGES its outputs (per-round resolved paths — the reference's
  round-variable substitution in base paths), and ONE commit after the
  last round promotes everything atomically — a crash mid-run leaves
  only staging (swept on rerun), never half a result set.
  :meth:`IterativeRunner.sink` + :meth:`IterativeRunner.run_transactional`.
- **Executor ergonomics** (`IterativeBatchExecutor.scala`: round queue,
  ``stop()``, ``awaitExecution()``, listener events):
  :class:`IterativeBatchExecutor` runs rounds on a background thread
  with submit/stop/await and a per-round progress callback.
  Where the engine owns a round's actions — the staged writes of
  :meth:`IterativeRunner.run_transactional` — ``actions.run_actions``
  overlaps them as the reference's ``Job.execute`` overlaps node
  futures: frames are built in round order on the caller's thread, up
  to ``defaultParallelism`` rounds stage at once, ``on_round`` fires in
  round order, a failure or stop drains every in-flight write before it
  propagates.  :meth:`IterativeRunner.run` and the executor (in its
  starter's job group) run the caller's ``collect``: one round at a time.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Mapping, Sequence
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from ..actions import run_actions
from ..caching import cache_scope, own, persist


@dataclass
class IterativeNode:
    name: str
    fn: Callable  # (spark, params, *input_dfs, *view_broadcasts) -> DataFrame
    inputs: Sequence[str] = ()
    param_keys: Sequence[str] = ()  # parameters this node reads
    always: bool = False  # ALWAYS recompute kind
    views: Sequence[str] = ()  # broadcast views appended after inputs


@dataclass
class _IterativeView:
    name: str
    fn: Callable  # (spark, params) -> DataFrame
    key: Sequence[str]
    param_keys: Sequence[str] = ()
    max_rows: int = 1_000_000
    max_entries: "int | None" = None  # LRU cap on live broadcasts


@dataclass
class _IterativeSink:
    node: str
    name_template: str  # formatted with round=<idx> + params
    format: str = "parquet"
    options: dict = field(default_factory=dict)


class StopRequested(RuntimeError):
    """Raised inside :meth:`IterativeRunner.run` when a graceful stop
    was requested between rounds (reference ``IterativeBatchExecutor``
    stop semantics: finish the in-flight round, skip the rest)."""


@dataclass
class IterativeRunner:
    """Run a DAG of :class:`IterativeNode` over parameter rounds."""

    nodes: list[IterativeNode] = field(default_factory=list)
    views: list[_IterativeView] = field(default_factory=list)
    sinks: list[_IterativeSink] = field(default_factory=list)

    def node(
        self,
        name: str,
        fn: Callable,
        inputs: Sequence[str] = (),
        param_keys: Sequence[str] = (),
        always: bool = False,
        views: Sequence[str] = (),
    ) -> str:
        known = {n.name for n in self.nodes}
        for i in inputs:
            if i not in known:
                raise ValueError(f"unknown input {i!r}")
        known_views = {v.name for v in self.views}
        for v in views:
            if v not in known_views:
                raise ValueError(f"unknown view {v!r} (register with .view())")
        self.nodes.append(
            IterativeNode(name, fn, inputs, param_keys, always, views)
        )
        return name

    def view(
        self,
        name: str,
        fn: Callable,
        key: Sequence[str],
        param_keys: Sequence[str] = (),
        max_rows: int = 1_000_000,
        max_entries: "int | None" = None,
    ) -> str:
        """Register a broadcast side-input view: ``fn(spark, params)``
        returns the (TINY) DataFrame; the runner builds ONE
        ``group_view`` broadcast per distinct ``param_keys`` value
        tuple across all rounds (reference
        ``MapBroadcastByParameter.scala``: broadcasts keyed by the
        round's parameter subset; with no ``param_keys`` this is
        ``MapBroadcastOnce``).  Nodes receive it as a
        ``pyspark.Broadcast`` positional arg after their input frames
        (declare via ``node(..., views=[name])``); all broadcasts are
        released when the run finishes.

        ``max_entries`` bounds the LIVE broadcasts for this view: past
        the cap the least-recently-USED parameter value's broadcast is
        unpersisted on eviction (a re-visited value rebuilds — one
        extra collect, never unbounded executor memory).  Default None
        keeps every distinct value alive for the run, right when the
        distinct-value count is small (the common sweep shape)."""
        if max_entries is not None and max_entries < 1:
            raise ValueError(
                f"IterativeRunner.view({name!r}): max_entries must be "
                f">= 1 (got {max_entries}); use None for no cap"
            )
        self.views.append(
            _IterativeView(
                name, fn, list(key), list(param_keys), max_rows, max_entries
            )
        )
        return name

    def sink(
        self,
        node: str,
        name_template: str,
        format: str = "parquet",
        **options,
    ) -> None:
        """Register a transactional Direct-I/O sink for
        :meth:`run_transactional`: each round stages ``node``'s frame
        under ``name_template.format(round=<idx>, **params)`` (relative
        to the transaction's base path — embed round parameters to give
        every round a distinct resolved path, exactly the reference's
        round-variable substitution), and the single end-of-run commit
        promotes all rounds' datasets atomically."""
        if node not in {n.name for n in self.nodes}:
            raise ValueError(f"unknown node {node!r}")
        self.sinks.append(_IterativeSink(node, name_template, format, options))

    def request_stop(self) -> None:
        """Graceful stop: the in-flight round completes (its ``collect``
        runs), remaining rounds are skipped and :meth:`run` raises
        :class:`StopRequested`.  Under :meth:`run_transactional` every
        round already staging finishes first, and nothing commits."""
        self._stop_requested = True

    def _effective_keys(self) -> dict[str, tuple[str, ...]]:
        """Parameter dependency closure: a node inherits its inputs' AND
        views' keys (matches the reference's transitive IterativeInfo
        propagation)."""
        by_name = {n.name: n for n in self.nodes}
        view_keys = {v.name: tuple(sorted(v.param_keys)) for v in self.views}
        memo: dict[str, tuple[str, ...]] = {}

        def keys(name: str) -> tuple[str, ...]:
            if name not in memo:
                n = by_name[name]
                acc = set(n.param_keys)
                for i in n.inputs:
                    acc.update(keys(i))
                for v in n.views:
                    acc.update(view_keys[v])
                memo[name] = tuple(sorted(acc))
            return memo[name]

        return {n.name: keys(n.name) for n in self.nodes}

    def run(
        self,
        spark: SparkSession,
        rounds: Sequence[Mapping],
        collect: Callable[[int, Mapping, dict[str, DataFrame]], None],
        on_round: "Callable[[int, Mapping], None] | None" = None,
    ) -> None:
        """Execute all rounds; ``collect(round_idx, params, frames)`` is
        the per-round action (write/collect results).  ``on_round`` is
        a progress callback fired AFTER each round's collect (reference
        ``IterativeBatchExecutor`` listener ``onRoundCompleted``).  A
        :meth:`request_stop` between rounds skips the remainder and
        raises :class:`StopRequested` (caches/broadcasts still release).
        Rounds run one at a time: the engine does not own ``collect``'s
        actions, so it cannot overlap them.
        """
        with self._run_caches() as (cache, view_cache):
            self._execute(
                spark, rounds, collect, on_round, cache, view_cache
            )

    @contextmanager
    def _run_caches(self):
        """Fresh per-run state: node/view memos, build counters and the
        stop flag.  The memoised frames and view broadcasts register
        with a :class:`~..caching.cache_scope` that releases them on
        exit, on success or failure."""
        self._stop_requested = False
        self.build_counts = {}
        self.view_build_counts = {}
        with cache_scope():
            yield {}, {}

    def _execute(
        self,
        spark: SparkSession,
        rounds: Sequence[Mapping],
        collect,
        on_round,
        cache: dict,
        view_cache: dict,
        start_idx: int = 0,
    ) -> None:
        """Round loop over CALLER-OWNED caches, so
        :class:`IterativeBatchExecutor` keeps NEVER/PARAMETER nodes and
        parameter-keyed broadcasts warm across separately-submitted
        rounds (the whole point of the recompute kinds)."""
        for ridx, params, frames in self._frames(
            spark, rounds, cache, view_cache, start_idx
        ):
            collect(ridx, params, frames)
            if on_round is not None:
                on_round(ridx, params)

    def _frames(
        self,
        spark: SparkSession,
        rounds: Sequence[Mapping],
        cache: dict,
        view_cache: dict,
        start_idx: int = 0,
    ) -> Iterator[tuple[int, Mapping, dict[str, DataFrame]]]:
        """Yield ``(round_idx, params, frames)`` per round, building and
        memoising every node on the caller's thread, in round order.
        The stop flag is checked before each round is built, i.e. after
        the consumer has taken the previous one."""
        eff = self._effective_keys()
        views_by_name = {v.name: v for v in self.views}
        build_counts = self.build_counts
        view_build_counts = self.view_build_counts
        from ..operators.view import group_view

        def view_for(name: str, params: Mapping):
            v = views_by_name[name]
            key = (name,) + tuple(
                (k, params.get(k)) for k in sorted(v.param_keys)
            )
            if key not in view_cache:
                if v.max_entries is not None:
                    # LRU eviction: dict preserves insertion order and
                    # hits below re-insert, so the FIRST same-view key
                    # is the least recently used.  unpersist only drops
                    # executor copies: a round still in flight with the
                    # evicted broadcast re-fetches it from the driver;
                    # the run's scope unpersists it again on exit, which
                    # is harmless
                    live = [k for k in view_cache if k[0] == name]
                    while len(live) >= v.max_entries:
                        view_cache.pop(live.pop(0)).unpersist()
                view_cache[key] = own(group_view(
                    v.fn(spark, params), v.key, max_rows=v.max_rows
                ))
                view_build_counts[name] = view_build_counts.get(name, 0) + 1
            elif v.max_entries is not None:
                view_cache[key] = view_cache.pop(key)  # refresh recency
            return view_cache[key]

        for off, params in enumerate(rounds):
            ridx = start_idx + off
            if getattr(self, "_stop_requested", False):
                raise StopRequested(
                    f"stopped before round {ridx} ({len(rounds) - off} "
                    "rounds skipped)"
                )
            frames: dict[str, DataFrame] = {}
            for n in self.nodes:
                args = [frames[i] for i in n.inputs] + [
                    view_for(v, params) for v in n.views
                ]
                if n.always:
                    df = n.fn(spark, params, *args)
                else:
                    key = (n.name,) + tuple(
                        (k, params.get(k)) for k in eff[n.name]
                    )
                    if key not in cache:
                        df = n.fn(spark, params, *args)
                        # persist anything reused across rounds
                        cache[key] = persist(df)
                        build_counts[n.name] = build_counts.get(n.name, 0) + 1
                    df = cache[key]
                frames[n.name] = df
            yield ridx, params, frames

    def run_transactional(
        self,
        spark: SparkSession,
        rounds: Sequence[Mapping],
        base_path: str,
        collect: "Callable[[int, Mapping, dict[str, DataFrame]], None] | None" = None,
        on_round: "Callable[[int, Mapping], None] | None" = None,
        tx_id: "str | None" = None,
        sweep_orphans: bool = True,
    ):
        """Run all rounds with the registered :meth:`sink` outputs under
        ONE Direct-I/O transaction (reference
        ``DirectOutputSetupForIterative`` → per-round
        ``DirectOutputPrepareForIterative`` → single
        ``DirectOutputCommitForIterative``):

        1. setup — create the transaction's staging root; sweep stale
           ``_tx_*`` staging left by a crashed previous run
           (``sweep_orphans``; safe because the crashed run never
           committed, and re-running is the recovery protocol —
           single-writer-per-base assumption, as in the reference's
           TransactionManager);
        2. every round stages each sink's frame under its resolved name
           (``name_template.format(round=i, **params)``);
        3. after the LAST round, one commit promotes all staged
           datasets and seals the ``_TRANSACTION_SUCCESS`` marker —
           readers gate on the marker, so a crash anywhere before
           commit exposes NOTHING and leaks nothing visible (staging is
           ``_``-prefixed, invisible to Spark/Hadoop readers, and swept
           by the rerun).

        Rounds stage CONCURRENTLY, up to ``defaultParallelism`` in
        flight (the reference fires every output as a future,
        ``Job.scala``): frames are built and memoised, and dataset
        names reserved, in round order on the caller's thread; only the
        staged writes run through ``actions.run_actions``, a slot
        freeing when any round's writes finish.  ``collect`` (optional,
        for side outputs) and ``on_round`` fire in round order on the
        caller's thread, each after that round's staging has completed.
        On any error, or a :meth:`request_stop` seen after them, no
        further round starts, and every in-flight write is drained
        before the exception propagates — before caches are released,
        and with nothing committed.  Returns the committed transaction.
        """
        from ..sources.write import TransactionalOutput

        if not self.sinks:
            raise ValueError("run_transactional: no sinks registered")
        tx = TransactionalOutput(base_path, tx_id=tx_id, spark=spark)
        if sweep_orphans:
            tx.sweep_orphans()
        tx.setup()

        def stage(ridx: int, params: Mapping, frames: dict, writes: list):
            for s, name, staging in writes:
                tx._write(name, staging, frames[s.node], s.format, s.options)
            return ridx, params, frames

        def finish(staged: tuple) -> None:
            ridx, params, frames = staged
            if collect is not None:
                collect(ridx, params, frames)
            if on_round is not None:
                on_round(ridx, params)
            if self._stop_requested:
                raise StopRequested(f"stopped after round {ridx}")

        def action(ridx: int, params: Mapping, frames: dict) -> tuple:
            writes = []
            for s in self.sinks:
                name = s.name_template.format(round=ridx, **params)
                writes.append((s, name, tx._reserve(name)))
            return stage, (ridx, params, frames, writes), finish

        # run_actions drains every in-flight write, THEN the caches
        # release, whether the rounds finished or raised
        with self._run_caches() as (cache, view_cache):
            run_actions(spark, spark.sparkContext.defaultParallelism, (
                action(*r)
                for r in self._frames(spark, rounds, cache, view_cache)
            ))
        # reached only when every round staged: any error above leaves
        # staging for the rerun's sweep — never half-promote
        tx.commit()
        return tx


class IterativeBatchExecutor:
    """Queue-driven runner (reference ``IterativeBatchExecutor.scala``):
    rounds are SUBMITTED (before or during execution), executed in
    order on a background thread, with ``stop()`` /
    ``await_completion()`` and a per-round progress callback.

    The thread exists for QUEUE semantics (submit while running, abort
    between rounds) — the Spark work itself is the same one-round-at-a-
    time execution as :meth:`IterativeRunner.run`, because the caller's
    ``collect`` owns each round's actions; only
    :meth:`IterativeRunner.run_transactional` keeps several rounds in
    flight.  This is driver-side orchestration, not a parallelism claim.
    """

    def __init__(
        self,
        runner: IterativeRunner,
        spark: SparkSession,
        collect: Callable[[int, Mapping, dict[str, DataFrame]], None],
        on_round: "Callable[[int, Mapping], None] | None" = None,
    ):
        import queue as _q

        self._runner = runner
        self._spark = spark
        self._collect = collect
        self._on_round = on_round
        self._queue: "_q.Queue" = _q.Queue()
        self._thread = None
        self._error: "BaseException | None" = None
        self._stopped = False
        self.rounds_completed = 0

    def submit(self, params: Mapping) -> None:
        if self._stopped:
            raise RuntimeError("executor already stopped")
        self._queue.put(dict(params))

    def start(self) -> "IterativeBatchExecutor":
        import threading

        if self._thread is not None:
            raise RuntimeError("executor already started")

        def drain() -> None:
            # executor-owned caches: NEVER/PARAMETER nodes and broadcast
            # views stay warm across separately-submitted rounds
            try:
                with self._runner._run_caches() as (cache, view_cache):
                    ridx = 0
                    while True:
                        params = self._queue.get()
                        if params is None:  # sentinel: stop
                            return
                        self._runner._execute(
                            self._spark,
                            [params],
                            self._collect,
                            self._on_round,
                            cache,
                            view_cache,
                            start_idx=ridx,
                        )
                        self.rounds_completed += 1
                        ridx += 1
            except BaseException as e:  # surfaced by await_completion
                self._error = e

        drain = inheritable_thread_target(self._spark)(drain)  # job group
        self._thread = threading.Thread(target=drain, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        """Graceful stop: the in-flight round finishes, queued rounds
        after the sentinel are never executed."""
        self._stopped = True
        self._queue.put(None)

    def await_completion(self, timeout: "float | None" = None) -> None:
        """Block until the queue drains (requires a prior :meth:`stop`
        to terminate, as in the reference's ``awaitExecution``) and
        re-raise any round's error."""
        if self._thread is None:
            raise RuntimeError("executor not started")
        self._thread.join(timeout)
        if self._thread.is_alive():
            raise TimeoutError("iterative executor still running")
        if self._error is not None:
            raise self._error

    def __enter__(self) -> "IterativeBatchExecutor":
        return self.start()

    def __exit__(self, exc_type, exc, tb) -> None:
        if not self._stopped:
            self.stop()
        if exc_type is None:
            self.await_completion()
