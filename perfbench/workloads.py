"""The three benchmark jobflows and their output checks.

Each workload builds its jobflow from the engine's public API over the
generated parquet inputs, runs it into a fresh output directory, and is
checked afterwards, outside the timed region:

- ``nightly_jobflow`` and ``iterative_rounds`` against a DuckDB
  reference over the same input files, compared as multisets of row
  hashes (order-insensitive);
- ``corpus_dedup`` against a Python reference built from the engine's
  own pair list (taken once, after the first execution), whose pairs are
  scored against the planted duplicate clusters.

Every workload also checks that the record count logged by
``OutputCounters`` equals the rows read back.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from itertools import combinations

import duckdb
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from asakusafw_spark_spark import OutputCounters
from asakusafw_spark_spark import functions as AF
from asakusafw_spark_spark import operators as ops
from asakusafw_spark_spark.plans import FlowGraph, IterativeRunner
from asakusafw_spark_spark.sources import TransactionalOutput, read_parquet, write_flat

from . import gen


@dataclass
class Outcome:
    """What one execution produced, for its check and the trace."""

    records_out: int = 0  # sum of OutputCounters records
    files_out: int = 0
    bytes_out: int = 0
    layer: dict = field(default_factory=dict)  # per-layer numbers


@dataclass
class Check:
    ok: bool
    matched: int  # reference items found in the output
    expected: int  # reference items
    produced: int  # output items
    detail: str = ""


def _row_hash(cols: "list[str]") -> str:
    parts = ", ".join(f"coalesce(CAST({c} AS VARCHAR), '<null>')" for c in cols)
    return f"md5(concat_ws('|', {parts}))"


def _files(path: str) -> "tuple[int, int]":
    """(data files, bytes) under ``path``; committer markers excluded."""
    n = b = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if not f.startswith(("_", ".")):
                n += 1
                b += os.path.getsize(os.path.join(d, f))
    return n, b


def _uncommitted(out: str) -> "list[Check]":
    """A failed check when the transaction's success marker is missing."""
    if os.path.exists(os.path.join(out, "_TRANSACTION_SUCCESS")):
        return []
    return [Check(False, 0, 1, 0, "no _TRANSACTION_SUCCESS marker")]


class Workload:
    """Base: a DuckDB connection holding the reference row hashes."""

    OUTPUT_FILES = "*.parquet"  # the committed output's data files, under ``out``

    def __init__(self, inputs: gen.Inputs, tracer, cpus: int):
        self.inp = inputs
        self.tr = tracer
        self.cpus = cpus
        self.db = duckdb.connect()
        self.db.execute("SET threads TO 1")
        self.db.execute("SET preserve_insertion_order = false")
        for name, path in inputs.tables.items():
            self.db.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')"
            )

    def rows_written(self, out: str) -> int:
        """Rows read back from the committed output."""
        return self.db.execute(
            f"SELECT count(*) FROM read_parquet('{out}/{self.OUTPUT_FILES}')"
        ).fetchone()[0]

    def _ref(self, name: str, cols: "list[str]", sql: str) -> None:
        self.db.execute(
            f"CREATE TABLE ref_{name} AS SELECT {_row_hash(cols)} AS h, count(*) AS n "
            f"FROM ({sql}) GROUP BY h"
        )

    def _compare(self, name: str, cols: "list[str]", source: str) -> Check:
        """Multiset comparison of output rows (``source``: a DuckDB table
        expression) against ``ref_<name>``."""
        produced, expected, matched = self.db.execute(f"""
            WITH o AS (SELECT {_row_hash(cols)} AS h, count(*) AS n FROM {source} GROUP BY h)
            SELECT (SELECT coalesce(sum(n), 0) FROM o),
                   (SELECT coalesce(sum(n), 0) FROM ref_{name}),
                   (SELECT coalesce(sum(least(o.n, r.n)), 0)
                      FROM o JOIN ref_{name} r USING (h))
        """).fetchone()
        ok = produced == expected == matched
        detail = f"{name}: {matched} of {expected} expected rows, {produced} produced"
        return Check(ok, int(matched), int(expected), int(produced), "" if ok else detail)

    def _op(self, name: str, fn, *args, **kwargs):
        """Call an operator inside an ``operators.<name>`` span."""
        with self.tr.span(f"operators.{name}"):
            return fn(*args, **kwargs)

    def _read(self, spark, table: str):
        with self.tr.span("sources.read"):
            return read_parquet(spark, self.inp.tables[table])

    def traced_layer(self, out: str) -> dict:
        """Per-layer counts of the execution just checked that cost a
        Spark job or a scan; read for traced executions only."""
        return {}

    def cleanup(self, spark, out: str) -> None:
        spark.catalog.clearCache()
        shutil.rmtree(out, ignore_errors=True)


# ---------------------------------------------------------------------------
# nightly_jobflow
# ---------------------------------------------------------------------------

NIGHTLY_SINKS = {
    "by_nation": ["nation", "segment", "revenue_cents", "lines", "max_qty"],
    "top_customers": ["nation", "custkey", "revenue_cents"],
    "brand_returns": ["brand", "returned_lines", "returned_cents", "parts"],
    "priced_lines": ["orderkey", "linenumber", "custkey", "nation", "brand", "revenue_cents"],
}

_ENRICHED_SQL = """
    SELECT l.orderkey, l.linenumber, l.partkey, l.quantity, l.returnflag,
           (l.price_cents - l.discount_cents) * l.quantity AS revenue_cents,
           p.brand, o.custkey, c.nation, c.segment
    FROM lineitem l JOIN part p USING (partkey)
         JOIN orders o USING (orderkey) JOIN customer c ON o.custkey = c.custkey
"""


def _brand_returns(key, returned: pd.DataFrame, parts: pd.DataFrame):
    """The user ``@CoGroup`` operator: per brand, the returned lines and
    their value next to the brand's part count."""
    return {
        "brand": key[0],
        "returned_lines": len(returned),
        "returned_cents": int(returned["revenue_cents"].sum()),
        "parts": len(parts),
    }


class Nightly(Workload):
    """FlowGraph over orders/lineitem/customer/part: three master joins,
    a branch, two summarizes, a top-k and a Python cogroup, fanning out
    to four sinks under one TransactionalOutput."""

    OUTPUT_FILES = "*/*.parquet"

    def reference(self) -> None:
        e = f"({_ENRICHED_SQL})"
        self._ref("by_nation", NIGHTLY_SINKS["by_nation"], f"""
            SELECT nation, segment, sum(revenue_cents) AS revenue_cents,
                   count(*) AS lines, max(quantity) AS max_qty
            FROM {e} GROUP BY nation, segment""")
        self._ref("top_customers", NIGHTLY_SINKS["top_customers"], f"""
            SELECT nation, custkey, revenue_cents FROM (
              SELECT *, row_number() OVER (PARTITION BY nation
                        ORDER BY revenue_cents DESC, custkey) AS rn
              FROM (SELECT nation, custkey, sum(revenue_cents) AS revenue_cents
                    FROM {e} GROUP BY nation, custkey)) WHERE rn <= 5""")
        self._ref("brand_returns", NIGHTLY_SINKS["brand_returns"], f"""
            SELECT p.brand, coalesce(r.n, 0) AS returned_lines,
                   coalesce(r.cents, 0) AS returned_cents, p.parts
            FROM (SELECT brand, count(*) AS parts FROM part GROUP BY brand) p
            LEFT JOIN (SELECT brand, count(*) AS n, sum(revenue_cents) AS cents
                       FROM {e} WHERE returnflag = 'R' GROUP BY brand) r USING (brand)""")
        self._ref("priced_lines", NIGHTLY_SINKS["priced_lines"], f"""
            SELECT orderkey, linenumber, custkey, nation, brand, revenue_cents
            FROM {e} WHERE returnflag <> 'R'""")

    def build(self) -> FlowGraph:
        flow = FlowGraph()
        for t in ("customer", "part", "orders", "lineitem"):
            flow.source(t, lambda spark, t=t: self._read(spark, t))
        op = self._op
        flow.op("order_cust", ["customer", "orders"],
                lambda spark, c, o: op("master_join", ops.master_join, c, o, ["custkey"],
                                       unique_master=True),
                outputs=["joined", "missed"])
        flow.op("line_part", ["part", "lineitem"],
                lambda spark, p, li: op("master_join", ops.master_join, p, li, ["partkey"],
                                        unique_master=True),
                outputs=["joined", "missed"])
        flow.op("enriched", ["order_cust.joined", "line_part.joined"],
                lambda spark, o, li: op(
                    "master_join", ops.master_join, o, li, ["orderkey"], unique_master=True,
                    mapping={
                        "orderkey": "t.orderkey", "linenumber": "t.linenumber",
                        "quantity": "t.quantity", "returnflag": "t.returnflag",
                        "brand": "t.brand", "custkey": "m.custkey",
                        "nation": "m.nation", "segment": "m.segment",
                        "revenue_cents": (F.col("price_cents") - F.col("discount_cents"))
                        * F.col("quantity"),
                    }),
                outputs=["joined", "missed"])
        flow.op("route", "enriched.joined",
                lambda spark, df: op("branch", ops.branch, df,
                                     F.when(F.col("returnflag") == "R", "returned")
                                     .otherwise("kept"), ["returned", "kept"]),
                outputs=["returned", "kept"])
        flow.op("by_nation", "enriched.joined",
                lambda spark, df: op("summarize", ops.summarize, df, ["nation", "segment"], {
                    "revenue_cents": ("sum", "revenue_cents"), "lines": ("count", "quantity"),
                    "max_qty": ("max", "quantity")}))
        flow.op("cust_revenue", "enriched.joined",
                lambda spark, df: op("summarize", ops.summarize, df, ["nation", "custkey"],
                                     {"revenue_cents": ("sum", "revenue_cents")}))
        flow.op("top_customers", "cust_revenue",
                lambda spark, df: op("top_k_per_group", ops.top_k_per_group, df, ["nation"],
                                     [("revenue_cents", "desc"), ("custkey", "asc")], 5))
        flow.op("brand_returns", ["route.returned", "part"],
                lambda spark, r, p: op(
                    "cogroup", ops.cogroup,
                    [ops.Grouping(r.select("brand", "revenue_cents"), ["brand"]),
                     ops.Grouping(p.select("brand"), ["brand"])],
                    _brand_returns,
                    "brand string, returned_lines long, returned_cents long, parts long"))
        flow.op("priced_lines", "route.kept",
                lambda spark, df: df.select(*NIGHTLY_SINKS["priced_lines"]))
        return flow

    def run(self, spark, out: str) -> Outcome:
        tr = self.tr
        counters = OutputCounters()
        tx = TransactionalOutput(out, spark=spark, counters=counters)
        holder: dict = {}
        sink_s: dict[str, float] = {}
        first_sink: list[float] = []
        flow = self.build()
        for name in NIGHTLY_SINKS:
            def action(df, name=name):
                if tr.enabled:
                    holder.setdefault("exchanges", []).append(_exchanges(df))
                start = time.perf_counter()
                first_sink.append(start)
                with tr.span(f"plans.flow.sink.{name}", parent=holder.get("run")):
                    tx.prepare(name, df)
                sink_s[name] = time.perf_counter() - start
            flow.sink(name, name, action)
        tx.setup()
        start = time.perf_counter()
        with tr.span("plans.flow.run") as run_id:
            holder["run"] = run_id
            flow.run(spark, max_concurrent_sinks=min(4, self.cpus))
        run_s = time.perf_counter() - start
        persisted = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
        with tr.span("sources.write.commit"):
            t = time.perf_counter()
            tx.commit()
            commit_s = time.perf_counter() - t
        rep = counters.report()
        return Outcome(
            records_out=sum(r.get("records", 0) for r in rep.values()),
            files_out=sum(r.get("files", 0) for r in rep.values()),
            bytes_out=sum(r.get("bytes", 0) for r in rep.values()),
            layer={
                "plans.flow.build_s": min(first_sink) - start,
                "plans.flow.run_s": run_s,
                "plans.flow.sink_overlap": sum(sink_s.values()) / run_s,
                "plans.flow.persisted_nodes": persisted,
                "operators.exchanges": sum(holder.get("exchanges", [])),
                "sources.write.commit_s": commit_s,
                **{f"plans.flow.sink_s.{k}": v for k, v in sink_s.items()},
            },
        )

    def check(self, out: str, res: Outcome) -> "list[Check]":
        return _uncommitted(out) or [
            self._compare(n, cols, f"read_parquet('{out}/{n}/*.parquet')")
            for n, cols in NIGHTLY_SINKS.items()
        ]


def _exchanges(df) -> int:
    """Shuffle Exchange nodes in the frame's initial physical plan."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    return sum(
        1 for line in plan.splitlines()
        if "Exchange " in line and "BroadcastExchange" not in line
        and "ReusedExchange" not in line
    )


# ---------------------------------------------------------------------------
# iterative_rounds
# ---------------------------------------------------------------------------

WINDOWS = 6
WINDOW_DAYS = 30
ROUNDS = [{"region": r, "window": w} for r in gen.SALES_REGIONS for w in range(WINDOWS)]
ROUND_COLS = ["region", '"window"', "store", "item", "day", "qty", "amount_cents", "list_value"]


class Iterative(Workload):
    """IterativeRunner.run_transactional over 12 (region, window) rounds:
    one NEVER node, two PARAMETER nodes and a by-region broadcast view;
    every round stages one small map-only output, one commit at the end."""

    OUTPUT_FILES = "rounds/*/*/*.parquet"

    def reference(self) -> None:
        self._ref("rounds", ROUND_COLS, f"""
            SELECT s.region, s.day // {WINDOW_DAYS} AS "window", s.store, s.item, s.day,
                   s.qty, s.amount_cents, s.qty * p.list_cents AS list_value
            FROM sales s JOIN prices p ON s.region = p.region AND s.item = p.item
            WHERE s.qty > 0""")

    def run(self, spark, out: str) -> Outcome:
        tr = self.tr
        counters = OutputCounters()
        op = self._op
        runner = IterativeRunner()

        def prices(spark, p):
            df = self._read(spark, "prices")
            return df.filter(F.col("region") == p["region"]).select("item", "list_cents")

        def base(spark, p):
            return self._read(spark, "sales").filter(F.col("qty") > 0)

        def regional(spark, p, df, view):
            @pandas_udf("long")
            def list_cents(item: pd.Series) -> pd.Series:
                m = view.value
                return item.map(lambda i: m[(i,)][0]["list_cents"])

            df = df.filter(F.col("region") == p["region"])
            return op("update", ops.update, df, list_cents=list_cents("item"))

        def window(spark, p, df):
            lo = p["window"] * WINDOW_DAYS
            df = df.filter(F.col("day").between(lo, lo + WINDOW_DAYS - 1))
            df = op("update", ops.update, df, list_value=F.col("qty") * F.col("list_cents"))
            df = df.select("store", "item", "day", "qty", "amount_cents", "list_value")
            return counters.observe(f"round.{p['region']}.{p['window']}", df)

        runner.view("prices", prices, key=["item"], param_keys=["region"])
        runner.node("base", base)
        runner.node("regional", regional, inputs=["base"], param_keys=["region"],
                    views=["prices"])
        runner.node("window", window, inputs=["regional"], param_keys=["region", "window"])
        runner.sink("window", "rounds/region={region}/window={window}")

        marks: list[float] = []
        start = time.perf_counter()
        with tr.span("plans.iterative.run") as run_id:
            runner.run_transactional(spark, ROUNDS, out,
                                     on_round=lambda i, p: marks.append(time.perf_counter()))
        end = time.perf_counter()
        edges = [start] + marks
        rounds = [b - a for a, b in zip(edges, edges[1:])]
        for i, (a, b) in enumerate(zip(edges, edges[1:])):
            tr.add(f"plans.iterative.round.{i}", a, b, run_id)
        tr.add("sources.write.commit", marks[-1], end, run_id)
        rep = counters.report()
        n_nodes = len(runner.nodes)
        builds = sum(runner.build_counts.values())
        files, nbytes = _files(os.path.join(out, "rounds"))
        return Outcome(
            records_out=sum(r.get("records", 0) for r in rep.values()),
            files_out=files,
            bytes_out=nbytes,
            layer={
                "plans.iterative.first_round_s": rounds[0],
                "plans.iterative.rounds_s": rounds[1:],
                "plans.iterative.node_builds": builds,
                "plans.iterative.node_hit_ratio": 1 - builds / (len(ROUNDS) * n_nodes),
                "plans.iterative.view_builds": sum(runner.view_build_counts.values()),
                "sources.write.commit_s": end - marks[-1],
            },
        )

    def check(self, out: str, res: Outcome) -> "list[Check]":
        return _uncommitted(out) or [self._compare(
            "rounds", ROUND_COLS,
            f"read_parquet('{out}/{self.OUTPUT_FILES}', hive_partitioning = true)")]


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------


class Corpus(Workload):
    """normalize_text + quality_score, then MinHash-LSH pairs and
    dedup_corpus (connected components, keep the best-quality member),
    then one write_flat."""

    def reference(self) -> None:
        self.truth_pairs = {p for c in self.inp.truth for p in combinations(c, 2)}
        self.expected: "dict[int, int] | None" = None

    def run(self, spark, out: str) -> Outcome:
        tr = self.tr
        counters = OutputCounters()
        docs = self._read(spark, "docs")
        with tr.span("functions.text"):
            prepped = docs.select(
                "doc_id",
                AF.normalize_text("text").alias("text"),
                AF.quality_score("text").alias("quality"),
            )
        with tr.span("functions.dedup"):
            pairs = AF.minhash_lsh_pairs(prepped, id_col="doc_id", text_col="text")
            deduped = AF.dedup_corpus(prepped, id_col="doc_id", pairs=pairs,
                                      keep_by="quality")
        with tr.span("sources.write.flat"):
            write_flat(deduped, out, counters=counters, sink_name="deduped")
        rep = counters.report()["deduped"]
        self._pending = (prepped, pairs)
        return Outcome(records_out=rep.get("records", 0), files_out=rep.get("files", 0),
                       bytes_out=rep.get("bytes", 0))

    def _derive_reference(self) -> Check:
        """From the first execution's pair list and quality scores: the
        exact deduplicated corpus every execution must write (one keeper
        per connected component, best quality, ties to the smaller id),
        and the pair scores against the planted clusters."""
        prepped, pairs = self._pending
        got = pairs.select("id_a", "id_b").toPandas()
        clusters = _components(zip(got["id_a"].tolist(), got["id_b"].tolist()))
        quality = prepped.select("doc_id", "quality").toPandas()
        q = dict(zip(quality["doc_id"].tolist(), quality["quality"].tolist()))
        self.expected = {d: 1 for d in q}
        for members in clusters:
            for m in members:
                del self.expected[m]
            self.expected[min(members, key=lambda d: (-q[d], d))] = len(members)
        reported = {p for c in clusters for p in combinations(c, 2)}
        return Check(True, len(reported & self.truth_pairs), len(self.truth_pairs),
                     len(reported))

    def check(self, out: str, res: Outcome) -> "list[Check]":
        checks = [self._derive_reference()] if self.expected is None else []
        written = self.db.execute(
            f"SELECT doc_id, cluster_size FROM read_parquet('{out}/{self.OUTPUT_FILES}')"
        ).fetchall()
        ok = len(written) == len(self.expected) and dict(written) == self.expected
        checks.append(Check(ok, 0, 0, 0, "" if ok else
                            f"deduped corpus: {len(written)} rows differ from the "
                            f"{len(self.expected)} expected"))
        return checks

    def traced_layer(self, out: str) -> dict:
        clusters = self.db.execute(
            f"SELECT count(*) FROM read_parquet('{out}/{self.OUTPUT_FILES}') "
            "WHERE cluster_size > 1"
        ).fetchone()[0]
        return {"functions.dedup.pairs": self._pending[1].count(),
                "functions.dedup.clusters": clusters}

    def cleanup(self, spark, out: str) -> None:
        AF.release_cached_intermediates()
        super().cleanup(spark, out)


def _components(pairs) -> "list[list[int]]":
    """Connected components with more than one member (union-find)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict[int, list[int]] = {}
    for x in list(parent):
        comps.setdefault(find(x), []).append(x)
    return [sorted(c) for c in comps.values() if len(c) > 1]


WORKLOADS = {"nightly_jobflow": Nightly, "iterative_rounds": Iterative, "corpus_dedup": Corpus}
