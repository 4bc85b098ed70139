"""Physical-plan contracts: the join strategies must lower to the
physical operators they promise (SURVEY.md §2.4 Shuffled*/Broadcast*
compiler twins), and projections must prune the scan."""

import pytest
from pyspark.sql import functions as F

from asakusafw_spark_spark.operators import master_join, project
from asakusafw_spark_spark.schema import record_type


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_broadcast_strategy_uses_broadcast_hash_join(spark, sf_dir):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    out = master_join(
        nation, customer, [("n_nationkey", "c_nationkey")], strategy="broadcast"
    )["joined"]
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_shuffled_strategy_uses_sort_merge_join(spark, sf_dir):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    out = master_join(
        nation, customer, [("n_nationkey", "c_nationkey")], strategy="shuffled"
    )["joined"]
    assert "SortMergeJoin" in _plan(out)


def test_project_prunes_scan_columns(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    t = record_type({"l_orderkey": "long", "l_quantity": "double"})
    plan = _plan(project(li, t))
    # ReadSchema must carry ONLY the projected columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema and "l_comment" not in read_schema


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plan = _plan(li.filter(F.col("l_quantity") > 40).select("l_orderkey"))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "l_quantity" in pushed


def test_partitioned_write_prunes_partitions_on_read(spark, sf_dir, tmp_path):
    """Hive-style partition_by output + filtered read-back must hit
    PARTITION pruning (directory-level skip — the 100 TB table layout),
    not just row-group PushedFilters."""
    from asakusafw_spark_spark.sources.write import write_flat

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "docs_by_lang")
    write_flat(docs, out, partition_by=["lang"])

    back = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = _plan(back)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "lang" in pf and "en" in pf
    n_en = docs.filter(F.col("lang") == "en").count()
    assert n_en > 0 and back.count() == n_en


def test_plan_summary_counts_join_shapes(spark, sf_dir):
    from asakusafw_spark_spark.plans import plan_summary

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    joined = orders.join(F.broadcast(nation), orders.o_custkey % 25 == nation.n_nationkey)
    s = plan_summary(joined.groupBy("n_name").count())
    assert "BroadcastHashJoin" in s["joins"]
    assert s["broadcasts"] >= 1
    assert s["shuffles"] >= 1  # the groupBy exchange
    assert not s["cartesian"]
    assert s["python_stages"] == 0
    # filter pushdown is visible through the same summary
    f = plan_summary(orders.filter("o_orderkey = 7").select("o_orderkey"))
    assert any("o_orderkey" in p for p in f["pushed_filters"])


def test_assert_scale_safe_flags_cartesian_and_budgets(spark, sf_dir):
    import pytest

    from asakusafw_spark_spark.plans import assert_scale_safe, plan_summary

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    # force a genuine CartesianProduct (broadcast would hide it as BNLJ)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cross = orders.crossJoin(nation)
        assert plan_summary(cross)["cartesian"]
        with pytest.raises(AssertionError, match="CartesianProduct"):
            assert_scale_safe(cross)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    with pytest.raises(AssertionError, match="shuffles > budget"):
        assert_scale_safe(
            orders.groupBy("o_orderstatus").count(), max_shuffles=0
        )
    ok = assert_scale_safe(orders.select("o_orderkey"), max_shuffles=0)
    assert ok["shuffles"] == 0


def test_round5_text_ops_plan_budgets(spark, sf_dir):
    """Scale-shape contracts for the round-5 operators: redact is a pure
    scan-side expression (no shuffle, no Python), vocab_top_k ranks via
    distributed TakeOrderedAndProject (no global sort), pack_sequences
    is one window shuffle, tfidf stays within its documented
    two-aggregate + join budget — all with zero Python stages."""
    from asakusafw_spark_spark.functions import (
        pack_sequences,
        redact,
        tfidf,
        vocab_top_k,
    )
    from asakusafw_spark_spark.plans import assert_scale_safe

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    s = assert_scale_safe(
        docs.select("doc_id", redact("text").alias("t")),
        max_shuffles=0,
        max_python_stages=0,
    )
    assert s["joins"] == []

    s = assert_scale_safe(vocab_top_k(docs, k=10), max_shuffles=2, max_python_stages=0)
    assert "TakeOrderedAndProject" in s["plan"], "top-k must not be a global sort"

    assert_scale_safe(
        pack_sequences(docs, 128, by="source", shards=4),
        max_shuffles=1,
        max_python_stages=0,
    )

    assert_scale_safe(tfidf(docs, min_df=2), max_shuffles=4, max_python_stages=0)


def test_round5_session2_ops_plan_budgets(spark, sf_dir):
    """Scale-shape contracts for the session-2 operators: quantization
    and JSON extraction are pure projections (no shuffle, no Python);
    substring scrub stays within its documented span-agg + cover-agg
    budget with equi-joins only; quantized top-k mirrors the brute-force
    plan (broadcast queries, corpus unshuffled, one rank window)."""
    from asakusafw_spark_spark.functions import (
        extract_json,
        quantize_embeddings,
        quantized_topk,
        scrub_duplicate_spans,
    )
    from asakusafw_spark_spark.plans import assert_scale_safe

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    # pure projection + at most ONE round-robin scan-split exchange
    # (ensure_parallelism fires on this few-file test input so the
    # CPU-heavy transform uses every core; a no-op on wide scans)
    assert_scale_safe(
        quantize_embeddings(emb), max_shuffles=1, max_python_stages=0
    )
    s = assert_scale_safe(
        extract_json(ev, "props", {"k": "$.k:bigint"}),
        max_shuffles=0,
        max_python_stages=0,
    )
    assert s["joins"] == []

    # span-count agg + cover agg (+ AQE-chosen join exchanges at real
    # volume) + ONE round-robin scan-split exchange (ensure_parallelism
    # fires on this few-file test input; a no-op on wide scans); never
    # a cartesian, never Python
    assert_scale_safe(
        scrub_duplicate_spans(docs, n=8), max_shuffles=5, max_python_stages=0
    )

    # the BNLJ is the same documented exact-scan theta-join as
    # brute_force_topk: queries broadcast, corpus side never shuffled
    # (the +1 exchange is quantize_embeddings' round-robin scan-split)
    s = assert_scale_safe(
        quantized_topk(emb, emb.limit(5), k=3),
        max_shuffles=4,
        max_python_stages=0,
    )
    assert "BroadcastNestedLoopJoin" in s["joins"]


def test_cap_and_winsorize_plan_budgets(spark, sf_dir):
    """cap_per_group is one group-key shuffle + rank window;
    winsorize is one slim cut-point aggregate broadcast back onto an
    unshuffled scan — neither uses Python or a global sort."""
    from asakusafw_spark_spark.functions import cap_per_group, winsorize
    from asakusafw_spark_spark.plans import assert_scale_safe

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    assert_scale_safe(
        cap_per_group(docs, by="source", n=10, key_col="doc_id"),
        max_shuffles=1,
        max_python_stages=0,
    )
    s = assert_scale_safe(
        winsorize(li, "l_extendedprice", by="l_returnflag"),
        max_shuffles=2,  # the cut-point aggregate's partial/final pair
        max_python_stages=0,
    )
    assert s["broadcasts"] >= 1, "cut points must broadcast, not shuffle the fact"


def test_tpch_composite_plan_budgets(spark, sf_dir):
    """Scale-shape contracts for the session-3 TPC-H composites:

    - q6 is scan-only — zero joins, zero shuffles past the aggregate,
      with every filter pushed to the parquet scan;
    - q8's fact is joined only against broadcast-pruned dimension
      chains (no SortMergeJoin at test scale, no cartesian);
    - q13 aggregates orders to one row per customer BELOW the outer
      join (the PartialAggregate appears before the join exchange);
    - q21's EXISTS/NOT-EXISTS pair decorrelates into keyed aggregates
      and equi-joins only — never a cartesian product.
    """
    import __spark_entry__ as entry

    from asakusafw_spark_spark.plans import assert_scale_safe

    # q6: one aggregate over a filtered scan; agg exchange only
    s = assert_scale_safe(
        entry.q6_forecast_revenue(spark, sf_dir),
        max_shuffles=1,
        max_python_stages=0,
    )
    assert s["joins"] == []
    assert "PushedFilters: [" in s["plan"]

    # q8: every dimension chain broadcasts; the only sort-merge join is
    # the final orders⋈lineitem fact join (both sides large at scale)
    s = assert_scale_safe(
        entry.q8_market_share(spark, sf_dir),
        max_python_stages=0,
    )
    assert s["joins"].count("SortMergeJoin") <= 1

    # q13: agg-below-outer-join — partial agg on orders, then the join
    s = assert_scale_safe(
        entry.q13_customer_distribution(spark, sf_dir),
        max_python_stages=0,
    )
    plan = s["plan"]
    assert "HashAggregate" in plan

    # q21: equi-joins + aggregates only
    s = assert_scale_safe(
        entry.q21_waiting_suppliers(spark, sf_dir),
        max_python_stages=0,
    )
    assert s["cartesian"] == 0 or not s["cartesian"]


def test_session3_warehouse_ops_plan_budgets(spark, sf_dir):
    """scd2_apply: closed rows pass through with no join; one window
    shuffle chain for open∪changes; zero Python.  apply_agg_delta: keyed
    aggregates + one merge join, zero Python.  lm_score: the only
    nested-loop is the documented 1-row vocabulary broadcast; zero
    Python.  constraint_report's row-local block: one scan, no join."""
    import __spark_entry__ as entry

    from asakusafw_spark_spark.plans import assert_scale_safe

    s = assert_scale_safe(
        entry.q_scd2_apply(spark, sf_dir), max_python_stages=0
    )
    assert "CartesianProduct" not in s["plan"]

    s = assert_scale_safe(
        entry.q_incremental_agg(spark, sf_dir), max_python_stages=0
    )
    assert all(j in ("SortMergeJoin", "BroadcastHashJoin") for j in s["joins"])

    s = assert_scale_safe(
        entry.q_lm_score(spark, sf_dir), max_python_stages=0
    )
    # BNLJ only from the 1-row vocab broadcast (same pattern as the q22
    # scalar-threshold join); everything else must be hash/merge
    assert s["joins"].count("BroadcastNestedLoopJoin") <= 1


def test_heavy_hitters_reuses_one_scan_and_shuffle(spark, sf_dir):
    """heavy_hitters promises ONE data scan: the total re-aggregates the
    counts frame and Spark's ReuseExchange must serve both branches from
    the same shuffle (executed plan, post-AQE)."""
    from asakusafw_spark_spark.functions import heavy_hitters

    df = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id")
    out = heavy_hitters(df, "user_id", min_count=2, min_share=0.008)
    out.collect()  # materialize so AQE finalizes the plan
    executed = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed
    # the 1-row total rides an identity broadcast (stat-frame pattern),
    # never a shuffled join
    assert "IdentityBroadcastMode" in executed


def test_sample_exact_n_lowers_to_take_ordered(spark, sf_dir):
    """sample_exact_n must be TakeOrderedAndProject (per-partition
    top-n + driver merge), never a global Sort + Limit."""
    from asakusafw_spark_spark.functions import sample_exact_n

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(sample_exact_n(df, 37, "doc_id"))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_graph_and_bpe_plan_budgets(spark, sf_dir):
    """Scale-shape contracts for the r09/r10 operators: the simhash
    sketch is a pure projection; the capped chunk self-join is
    equi-join-only with zero Python; BPE's histogram/pair-count
    statistics are native aggregates; bpe_apply is exactly ONE Arrow
    Python stage and no shuffle; the iterative graph frames never
    contain a cartesian or a Python stage."""
    from asakusafw_spark_spark.functions import (
        bpe_apply,
        bpe_pair_counts,
        initial_symbols,
        simhash,
        simhash_pairs,
        word_histogram,
    )
    from asakusafw_spark_spark.functions.graph import pagerank, triangle_count
    from asakusafw_spark_spark.plans import assert_scale_safe
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    assert_scale_safe(
        docs.select("doc_id", simhash("text").alias("sh")),
        max_shuffles=0, max_python_stages=0,
    )
    # explode → cap agg + semi-join → equi self-join → dedup agg
    s = assert_scale_safe(
        simhash_pairs(docs), max_shuffles=6, max_python_stages=0
    )
    assert not s["cartesian"]

    hist = word_histogram(docs).select(
        initial_symbols("word").alias("syms"), "wcount"
    )
    assert_scale_safe(bpe_pair_counts(hist), max_shuffles=2, max_python_stages=0)
    assert_scale_safe(
        bpe_apply(docs.select("doc_id", "text"), [("e", "r")]),
        max_shuffles=0, max_python_stages=1,
    )

    edges = docs.select(
        (F.col("doc_id") % 50).alias("src"), (F.col("doc_id") % 37).alias("dst")
    ).filter("src <> dst")
    s = assert_scale_safe(pagerank(edges, iterations=2), max_python_stages=0)
    assert not s["cartesian"]
    s = assert_scale_safe(triangle_count(edges), max_python_stages=0)
    assert not s["cartesian"]


def test_no_inferred_generate_filter_reinlines_heavy_exprs(spark, sf_dir):
    """Round-13 regression pin: a plain explode() makes Catalyst infer a
    size()>0 filter below the Generate; predicate pushdown substitutes
    the array-building expression into it and pushes it below any
    round-robin exchange — heavy expressions (word_shingles, span
    transforms) then evaluate up to 3×, mostly on the narrow pre-shuffle
    partitions.  The dynamic-array sites use explode_outer, which infers
    no filter: the OPTIMIZED plan must contain no Filter node whose
    condition embeds the shingle/tokenize machinery."""
    import re

    from asakusafw_spark_spark.functions.dedup import (
        ngram_jaccard_pairs,
        scrub_duplicate_spans,
    )
    from asakusafw_spark_spark.functions.text import tfidf

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def filters_of(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # ADVICE r13: match Filter nodes at ANY tree depth — nested
        # prefixes like ':     +- Filter' defeat a prefix regex, so a
        # re-inlined Filter deep in the plan would escape the pin.
        return [
            ln
            for ln in plan.splitlines()
            if re.search(r"(^|- )Filter ", ln)
        ]

    for df in (
        ngram_jaccard_pairs(docs, threshold=0.3, max_doc_freq=5),
        scrub_duplicate_spans(docs, n=8),
        tfidf(docs),
    ):
        for ln in filters_of(df):
            # the tokenizer split (and anything built on it) must never
            # appear inside a Filter condition — that is the re-inlined
            # inferred-filter shape
            assert "split(" not in ln, f"re-inlined generate filter:\n{ln}"


def test_ensure_parallelism_no_listing_fallback(spark):
    """Round-13 regression pin: frames with no file listing (foreachBatch
    micro-batches, in-memory frames) must fall back to the rdd partition
    probe instead of silently staying narrow."""
    from asakusafw_spark_spark.functions.dedup import ensure_parallelism

    narrow = spark.range(0, 1000, 1, 1)  # 1 partition, no files
    assert narrow.inputFiles() == []
    out = ensure_parallelism(narrow)
    assert (
        out.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )

    wide = spark.range(0, 1000, 1, spark.sparkContext.defaultParallelism)
    assert ensure_parallelism(wide) is wide  # already wide: untouched


def test_fold_partial_prefold_gating(spark):
    """The map-side pre-fold applies exactly when partial=True and no
    ordering is requested (reference PARTIAL-combiner semantics); an
    ordering keeps raw rows flowing to the sort-order left fold."""
    import pandas as pd

    from asakusafw_spark_spark.operators.group import fold

    df = spark.range(0, 4000).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v")
    ).repartition(8)

    def fmax(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame([{"k": pdf["k"].iloc[0], "v": pdf["v"].max()}])

    out = fold(df, ["k"], fn=fmax, partial=True)
    rows = {r["k"]: r["v"] for r in out.collect()}
    assert rows == {0: 3999, 1: 3997, 2: 3998}

    ordered = fold(df, ["k"], fn=fmax, partial=True, ordering=[("v", "asc")])
    rows_o = {r["k"]: r["v"] for r in ordered.collect()}
    assert rows_o == rows
    # with ordering, the plan must NOT carry the prefold's extra
    # MapInPandas stage
    plan_o = ordered._jdf.queryExecution().optimizedPlan().toString()
    plan_p = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan_p.count("MapInPandas") == plan_o.count("MapInPandas") + 1


@pytest.mark.parametrize(
    "generator, verify",
    [("edit_distance_pairs", "levenshtein"), ("minhash_lsh_pairs", "array_intersect")],
    ids=["edit_distance_pairs", "minhash_lsh_pairs"],
)
def test_edit_distance_verify_stage_is_wide(spark, sf_dir, generator, verify):
    """Round-14 regression pin (SCALING.md round 14): AQE coalesces the
    ~MB-scale candidate id-pair shuffle to one partition by BYTES, and
    the verify joins preserve the stream side's width — every verify
    (levenshtein DP, array_intersect Jaccard) then runs on one core (78
    of 89 s at sf1 for levenshtein).  The explicit AQE-exempt
    repartition above the candidate dedup must stay in the optimized
    plan, between the dedup aggregate and the verify, for BOTH callers
    of the shared candidate kernel."""
    from asakusafw_spark_spark.functions import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = getattr(dedup, generator)(docs)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" in plan, (
        "candidate repartition lost — verify stage will inherit AQE's "
        "bytes-coalesced width:\n" + plan[:2000]
    )
    # and the verify must sit ABOVE the repartition in the tree
    ver = plan.find(verify)
    rep = plan.find("Repartition")
    assert ver != -1 and ver < rep, f"{verify} below the width guard"
    # the pin must wrap the (id_a, id_b) dedup itself: the capped path's
    # bucket repartition alone would satisfy both checks above
    lines = plan.splitlines()
    agg = next(i for i, line in enumerate(lines) if "Aggregate [id_a#" in line)
    assert any(
        "Repartition" in line for line in (lines[agg - 1], lines[agg + 1])
    ), "no width pin next to the candidate dedup:\n" + plan[:2000]


def test_ansi_rollup_keeps_single_expand_plan(spark, sf_dir):
    """On non-empty input ansi_grouping_sets must return Spark's NATIVE
    single-Expand plan — ONE scan of the source, one Expand, one
    aggregate, NO Union (r15: the r14 implementation paid a second
    full df.agg() scan for the () set on EVERY rollup/cube; the ANSI
    empty-input row is now gated on an O(1) take(1) probe instead)."""
    from asakusafw_spark_spark.operators import cube_agg, rollup_agg

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    for op in (rollup_agg, cube_agg):
        out = op(
            li, ["l_returnflag", "l_linestatus"], {"n": F.count(F.lit(1))}
        )
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("Expand") == 1, plan[:1500]
        assert plan.count("Union") == 0, plan[:1500]
        assert plan.count("Aggregate") == 1, plan[:1500]
        # exactly ONE scan of the parquet source
        assert plan.count("Relation") == 1, plan[:1500]


def test_ansi_grouping_sets_rejects_no_sets(spark):
    """ADVICE r14: an empty sets list must raise a clear error, not
    IndexError."""
    import pytest

    from asakusafw_spark_spark.operators import ansi_grouping_sets

    df = spark.range(1)
    with pytest.raises(ValueError, match="at least one grouping set"):
        ansi_grouping_sets(df, [], {"n": F.count(F.lit(1))})


def test_cosine_near_dup_cap_sub_blocks_pair_join(spark, sf_dir):
    """The capped pair self-join must be keyed on the sub-block cell
    (bucket, __ca__, __cb__), not the bucket alone (r16, sf10 probe):
    per-bucket quadratic work is single-task under a plain bucket
    equi-join — the largest bucket straggles the stage (2.5× at sf10)
    and a cap-sized 10k bucket is a ~50M-pair single task, which as an
    estimate-demoted SortMergeJoin replayed its buffered dup-key group
    from disk per probe row (299 s vs ~50 s at sf1).  Cell keys make
    every unit of work a uniform ≤SUB_BLOCK² block and every dup-key
    group ≤SUB_BLOCK rows.  Sub-blocking must also keep the result
    IDENTICAL — same pair set, only re-partitioned."""
    from asakusafw_spark_spark.functions import cosine_near_dup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = cosine_near_dup(emb, threshold=0.45, planes=2, max_bucket=10_000)
    plan = _plan(out)
    assert "__ca__" in plan and "__cb__" in plan, plan[:2000]
    capped = {(r.id_a, r.id_b) for r in out.collect()}
    plain = {
        (r.id_a, r.id_b)
        for r in cosine_near_dup(
            emb, threshold=0.45, planes=2, max_bucket=None
        ).collect()
    }
    assert capped == plain and capped
