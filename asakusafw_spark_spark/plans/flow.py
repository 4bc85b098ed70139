"""FlowGraph: the engine's jobflow assembly (SURVEY.md §3.3 "our
lifecycle").

The reference compiles an operator DAG into subplans and executes all
nodes concurrently as futures (runtime/.../graph/Job.scala:25-37); the
planner validates the graph and decorates edges (SparkPlanning.java:
349-361 validation, 479-520 markers).  Here the DAG is declared in
Python, validated up front, lowered to DataFrame lineages (Catalyst owns
subplan assembly/fusion), and the only engine-level physical decisions
kept are the ones Catalyst cannot see:

- **persist on fan-out** — a node consumed by >1 downstream would be
  recomputed per consumer (Spark recomputes shared lineage; the
  reference's branch() multiplexing made this free).  The runner counts
  consumers and persists nodes with fan-out > 1, in a ``cache_scope``
  that :meth:`FlowGraph.run` releases when it returns.
- **concurrent sink submission** — independent outputs go through
  ``actions.run_actions``, as the reference fires node futures on one pool.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..actions import run_actions
from ..caching import cache_scope, persist


@dataclass
class _Node:
    name: str
    inputs: list[str]
    fn: Callable  # (spark, *input_dfs) -> DataFrame | dict[str, DataFrame]
    outputs: list[str] = field(default_factory=list)  # for multi-output ops


@dataclass
class _Sink:
    name: str
    input: str
    action: Callable[[DataFrame], None]


class FlowGraph:
    """Declare sources → operators → sinks, then :meth:`run`.

    Node references: ``"name"`` for single-output nodes,
    ``"name.port"`` for multi-output operators (dict-returning fns).
    Inputs must already be declared — construction order enforces
    acyclicity, mirroring ``SparkPlanning.validate``.
    """

    def __init__(self) -> None:
        self._nodes: dict[str, _Node] = {}
        self._sinks: list[_Sink] = []

    # -- assembly ----------------------------------------------------------
    def source(self, name: str, loader: Callable[[SparkSession], DataFrame]) -> str:
        self._add(_Node(name, [], lambda spark: loader(spark)))
        return name

    def op(
        self,
        name: str,
        inputs: str | Sequence[str],
        fn: Callable,
        outputs: Sequence[str] = (),
    ) -> str:
        """Operator node. ``fn(spark, *input_frames)`` returns a DataFrame,
        or a dict of DataFrames when ``outputs`` names its ports."""
        if isinstance(inputs, str):
            inputs = [inputs]
        for i in inputs:
            self._check_ref(i)
        self._add(_Node(name, list(inputs), fn, list(outputs)))
        return name

    def sink(self, name: str, input: str, action: Callable[[DataFrame], None]) -> str:
        self._check_ref(input)
        self._sinks.append(_Sink(name, input, action))
        return name

    def _add(self, node: _Node) -> None:
        if node.name in self._nodes:
            raise ValueError(f"duplicate node {node.name!r}")
        if "." in node.name:
            raise ValueError("node names may not contain '.'")
        self._nodes[node.name] = node

    def _check_ref(self, ref: str) -> None:
        base, _, port = ref.partition(".")
        if base not in self._nodes:
            raise ValueError(f"unknown input {ref!r} (declare nodes before use)")
        node = self._nodes[base]
        if port and port not in node.outputs:
            raise ValueError(f"node {base!r} has no output port {port!r}")
        if not port and node.outputs:
            raise ValueError(f"node {base!r} is multi-output; reference a port")

    # -- execution ---------------------------------------------------------
    def validate(self) -> None:
        for s in self._sinks:
            self._check_ref(s.input)
        if not self._sinks:
            raise ValueError("flow has no sinks")

    def _fanout(self) -> dict[str, int]:
        counts: dict[str, int] = {}
        for node in self._nodes.values():
            for i in node.inputs:
                counts[i] = counts.get(i, 0) + 1
        for s in self._sinks:
            counts[s.input] = counts.get(s.input, 0) + 1
        return counts

    def build(self, spark: SparkSession) -> dict[str, DataFrame]:
        """Materialize every node reference → DataFrame (no actions);
        fan-out nodes are persisted in the caller's cache scope."""
        self.validate()
        fanout = self._fanout()
        frames: dict[str, DataFrame] = {}

        def get(ref: str) -> DataFrame:
            if ref in frames:
                return frames[ref]
            base, _, port = ref.partition(".")
            node = self._nodes[base]
            args = [get(i) for i in node.inputs]
            result = node.fn(spark, *args)
            if node.outputs:
                if not isinstance(result, dict) or set(result) != set(node.outputs):
                    raise ValueError(
                        f"node {base!r} must return dict with ports {node.outputs}"
                    )
                for p, df in result.items():
                    r = f"{base}.{p}"
                    if fanout.get(r, 0) > 1:
                        df = persist(df)
                    frames[r] = df
            else:
                if fanout.get(base, 0) > 1:
                    result = persist(result)
                frames[base] = result
            return frames[ref]

        for s in self._sinks:
            get(s.input)
        return frames

    def run(
        self,
        spark: SparkSession,
        max_concurrent_sinks: int = 4,
        counters=None,
    ) -> None:
        """Build lineages and fire all sinks concurrently (Job.scala:25-37
        analogue; Spark's scheduler accepts concurrent jobs).

        ``counters``: an :class:`~..listener.OutputCounters` — every
        sink's input frame is instrumented with a record counter
        (``df.observe``, collected during the sink's own action — zero
        extra jobs) and a job-end summary is logged after all sinks
        complete, the reference's ``listener/OutputCounters.scala``
        behavior.  Works for ANY sink action, not just the built-in
        writers.  The fan-out persists and the sinks' own are released
        when every sink has finished, on success or failure."""
        with cache_scope():
            frames = self.build(spark)
            if counters is not None:
                frames = dict(frames)
                for s in self._sinks:
                    frames[s.input] = counters.observe(s.name, frames[s.input])
            try:
                run_actions(spark, max_concurrent_sinks, (
                    (s.action, (frames[s.input],), None) for s in self._sinks
                ))
            finally:
                if counters is not None:
                    counters.log()
