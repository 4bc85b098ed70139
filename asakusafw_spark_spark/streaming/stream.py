"""Structured Streaming operators.

Batch operators in this engine translate 1:1 onto streams (DataFrame API
is shared); what streams add is time: watermarks bound state for late
data, windows/sessions group by event time, and
``applyInPandasWithState`` hosts custom stateful operators (the
streaming analogue of the reference's CoGroup-style user logic).

Scale notes: watermark + window aggregation state is per-key-per-window
in the state store — partitioned by key, RocksDB-backed on real
clusters; ``availableNow`` triggers let the same pipeline drain a
backlog as an incremental batch (used by the tests to drive parquet
fixtures through the streaming path synchronously).
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T


def stream_parquet_source(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    ts_col: str = "ts",
    ts_is_nanos: bool = False,
) -> DataFrame:
    """File-stream source over a parquet directory (one-file-per-batch
    discovery).

    ``ts_is_nanos`` declares that ``ts_col`` is stored as
    TIMESTAMP(NANOS): the field is requested as TIMESTAMP_NTZ and Spark
    reads the nanos values natively, truncated to µs — the same µs
    boundary contract as the batch reader (sources/read.py).  Requesting
    it as ``long`` instead would silently coerce the µs timestamp to a
    µs long, and any downstream nanos arithmetic would be off by 1000×.
    The column is then cast to TIMESTAMP because watermarks/event-time
    operators reject TIMESTAMP_NTZ (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).
    The naive parquet value is UTC wall-clock, so the cast (naive →
    instant via session tz) is corrected with
    ``from_utc_timestamp(·, session_tz)``: the resulting instant equals
    the naive value read as UTC in EVERY session timezone (a bare cast
    would shift event times in non-UTC sessions, matching the batch
    reader's UTC-anchored contract only by luck).
    """
    if ts_is_nanos:
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        schema = T.StructType(
            [
                T.StructField(
                    f.name,
                    T.TimestampNTZType() if f.name == ts_col else f.dataType,
                    f.nullable,
                )
                for f in schema.fields
            ]
        )
    df = spark.readStream.schema(schema).parquet(path)
    if ts_is_nanos:
        tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
        df = df.withColumn(
            ts_col, F.from_utc_timestamp(F.col(ts_col).cast("timestamp"), tz)
        )
    return df


def windowed_aggregate(
    stream: DataFrame,
    ts_col: str,
    window: str,
    aggs: Mapping[str, Column],
    keys: Sequence[str] = (),
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling/sliding event-time window aggregation with a watermark.

    Output columns: window_start, window_end, *keys, *aggs.
    """
    wm = stream.withWatermark(ts_col, watermark)
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    out = wm.groupBy(win, *keys).agg(*[e.alias(n) for n, e in aggs.items()])
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *keys,
        *aggs.keys(),
    )


def sessionize(
    stream: DataFrame,
    ts_col: str,
    gap: str,
    keys: Sequence[str],
    aggs: Mapping[str, Column],
    watermark: str = "10 minutes",
) -> DataFrame:
    """Session windows: events within ``gap`` of each other merge."""
    wm = stream.withWatermark(ts_col, watermark)
    out = wm.groupBy(F.session_window(ts_col, gap), *keys).agg(
        *[e.alias(n) for n, e in aggs.items()]
    )
    return out.select(
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        *keys,
        *aggs.keys(),
    )


def stream_dedup(
    stream: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    watermark: str = "10 minutes",
    scope: str = "key_and_time",
) -> DataFrame:
    """Streaming dedup with watermark-bounded state.

    ``scope="key_and_time"`` (default): EXACT (key, event-time) dedup —
    records sharing key AND timestamp collapse to one; the same key at a
    different event time is kept.  Deterministic (replaying the stream
    yields the same survivors), which is why the batch oracle can
    hash-check it.

    ``scope="key"``: true per-key dedup via
    ``dropDuplicatesWithinWatermark`` — the FIRST ARRIVAL per key within
    the watermark horizon wins and later event times for that key are
    dropped.  Which record survives depends on arrival order, so this
    mode is arrival-order-deterministic, not data-deterministic.

    Either way state is bounded by the watermark: duplicates arriving
    later than it are not caught (the documented trade-off).
    """
    wm = stream.withWatermark(ts_col, watermark)
    if scope == "key_and_time":
        return wm.dropDuplicates([*keys, ts_col])
    if scope == "key":
        return wm.dropDuplicatesWithinWatermark([*keys])
    raise ValueError(f"stream_dedup: unknown scope {scope!r}")


def stateful_running_agg(
    stream: DataFrame,
    keys: Sequence[str],
    value_col: str,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    running (count, sum) across micro-batches — the pattern for any
    user-defined streaming state machine.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    out_schema = T.StructType(
        [T.StructField(k, stream.schema[k].dataType, True) for k in keys]
        + [
            T.StructField("running_count", T.LongType(), True),
            T.StructField("running_sum", T.DoubleType(), True),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("cnt", T.LongType(), True),
            T.StructField("total", T.DoubleType(), True),
        ]
    )
    vcol = value_col
    keylist = list(keys)

    def update(key, pdf_iter, state: GroupState):
        if state.exists:
            cnt, total = state.get
        else:
            cnt, total = 0, 0.0
        for pdf in pdf_iter:
            cnt += len(pdf)
            total += float(pdf[vcol].fillna(0.0).sum())
        state.update((cnt, total))
        yield pd.DataFrame(
            [{**dict(zip(keylist, key)), "running_count": cnt, "running_sum": total}]
        )

    # Project to keys+value AFTER the watermark: the watermark node
    # survives projection, so (a) only the columns the state fn reads
    # cross the Arrow bridge (not the whole event payload — the Python
    # transfer is the stateful op's bottleneck at scale), and (b) the
    # TIMESTAMP column never reaches pandas, whose datetime64[ns]
    # bridge only covers years 1677-2262 (a year-0001/9999 event —
    # legal in Spark — blew up the Arrow cast; r15 extreme-ts gate).
    return (
        stream.withWatermark(ts_col, watermark)
        .select(*keylist, vcol)
        .groupBy(*keys)
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", "NoTimeout"
        )
    )


def run_available_now(
    stream_df: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    mode: str = "update",
    state_partitions: int | None = None,
) -> None:
    """Drain everything currently available through the streaming plan
    into an in-memory table named ``query_name`` (synchronous) — the
    batch-drive harness for streaming tests.

    ``mode``: ``update`` for keyed aggregations; session windows only
    support ``append``/``complete`` (append emits once the watermark
    closes a session).

    ``state_partitions``: stateful operators create one state store per
    shuffle partition, PINNED at the first checkpoint — size it to the
    KEY CARDINALITY, not the core count (a handful of grouping keys on
    32 partitions pays 32 store setups per micro-batch for nothing).
    Applied by setting ``spark.sql.shuffle.partitions`` for the stream
    start only; the previous value is restored afterwards.
    """
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream_df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(query_name)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def _start(
    stream_df: DataFrame,
    sink,
    checkpoint_dir: str,
    query_name: str,
    available_now: bool,
    mode: str = "append",
):
    """Start ``stream_df`` into the ``foreachBatch`` ``sink``.  With
    ``available_now`` the query drains what is available and has
    terminated on return; otherwise it runs on until stopped."""
    w = (
        stream_df.writeStream.outputMode(mode)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
    )
    if not available_now:
        return w.start()
    q = w.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def stream_to_direct_output(
    stream_df: DataFrame,
    base_path: str,
    checkpoint_dir: str,
    pattern: str | None = None,
    ordering: Sequence[tuple[str, str]] = (),
    format: str = "parquet",
    mode: str = "update",
    query_name: str = "direct_output",
    available_now: bool = True,
):
    """Stream → Direct I/O sink: every micro-batch lands through the same
    writers batch flows use — ``write_flat`` (one subdirectory per batch,
    ``batch=<id>``) or, with ``pattern``, ``write_grouped`` (records
    shuffled to pattern-generated file paths, sorted within each file).

    ``foreachBatch`` is the bridge: inside it the micro-batch is a plain
    DataFrame, so the grouped-output path grammar, per-file ordering, and
    Hadoop-FS promotion all apply unchanged.  Exactly-once is inherited
    from the checkpoint + idempotent-overwrite pair: a replayed batch id
    overwrites its own previous (possibly partial) output rather than
    duplicating it — the streaming analogue of the reference's
    attempt→commit promotion.

    Returns the StreamingQuery (already drained when ``available_now``).
    """
    from ..sources.write import write_flat, write_grouped

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if pattern is None:
            write_flat(
                batch_df, f"{base_path}/batch={batch_id}", format=format,
                mode="overwrite",
            )
        else:
            write_grouped(
                batch_df, f"{base_path}/batch={batch_id}", pattern,
                ordering=ordering, format=format,
            )

    return _start(
        stream_df, sink, checkpoint_dir, query_name, available_now, mode
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[tuple[str, str]],
    left_ts: str,
    right_ts: str,
    lower: str,
    upper: str,
    watermarks: tuple[str, str] = ("10 minutes", "10 minutes"),
) -> DataFrame:
    """Stream-stream inner join on equi-keys + an event-time interval:
    ``right_ts + lower ≤ left_ts ≤ right_ts + upper``.

    Both sides carry watermarks; the interval condition lets Spark bound
    and evict join state (unbounded stream-stream joins would grow state
    forever — the interval IS the scalability contract).  ``lower`` /
    ``upper`` are SQL interval strings (e.g. ``"0 seconds"``,
    ``"7 days"``).
    """
    lw = left.withWatermark(left_ts, watermarks[0])
    rw = right.withWatermark(right_ts, watermarks[1])
    cond = None
    for lk, rk in keys:
        c = lw[lk] == rw[rk]
        cond = c if cond is None else (cond & c)
    cond = (
        cond
        & (lw[left_ts] >= rw[right_ts] + F.expr(f"INTERVAL {lower}"))
        & (lw[left_ts] <= rw[right_ts] + F.expr(f"INTERVAL {upper}"))
    )
    return lw.join(rw, on=cond, how="inner")


def stream_merge_upsert(
    stream_df: DataFrame,
    target_path: str,
    key: Sequence[str] | str,
    checkpoint_dir: str,
    partition_by: Sequence[str] | str | None = None,
    delete_col: str | None = None,
    format: str = "parquet",
    query_name: str = "merge_upsert",
    available_now: bool = True,
):
    """Streaming CDC apply: every micro-batch merges into the dataset at
    ``target_path`` through :func:`~...sources.write.merge_upsert` —
    replace-by-key, tombstones via ``delete_col``, partition-pruned
    rewrite with ``partition_by``.

    Exactly-once composition: the checkpoint replays an unacknowledged
    batch, a replayed merge is IDEMPOTENT (replacing a key with the
    same row, re-deleting a gone key, and re-inserting an
    already-merged key all converge to the same dataset), and a merge
    that died mid-promotion is SELF-HEALING on replay — swapped-out
    data is parked, never deleted, and ``merge_upsert`` restores any
    parked dataset/partition it touches before reading current state.
    Together the at-least-once delivery of ``foreachBatch`` yields
    effectively-once table state.  Within one batch the LAST occurrence
    wins only if keys are unique per batch — dedupe upstream (e.g.
    ``dropDuplicates`` on key + a version column) when a micro-batch
    can carry multiple changes for one key.

    Returns the StreamingQuery (already drained when ``available_now``).
    """
    from ..sources.write import merge_upsert

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_upsert(
            target_path, batch_df, key,
            partition_by=partition_by, delete_col=delete_col, format=format,
        )

    return _start(stream_df, sink, checkpoint_dir, query_name, available_now)


def stream_dedup_ingest(
    stream_df: DataFrame,
    index: DataFrame,
    target_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    format: str = "parquet",
    query_name: str = "dedup_ingest",
    available_now: bool = True,
    **dedup_kwargs,
):
    """Streaming ingestion dedup: every micro-batch of new documents is
    deduped against a STATIC corpus signature ``index`` (a persisted
    :func:`~..functions.dedup.build_dedup_index` frame) and only the
    survivors append to ``target_path``.

    The streaming face of :func:`~..functions.dedup.dedup_against_corpus`:
    because the index is static and per-document decisions are
    independent, the appended dataset is IDENTICAL regardless of how
    the stream is micro-batched — drain order, batch boundaries, and
    replays do not change which documents survive (a replayed batch
    re-appends its files; downstream readers dedupe on the batch
    directory, or run with ``availableNow`` drains where the
    checkpoint prevents replay).  Near-dups WITHIN the live stream are
    not decided here (same contract as the batch op) — fold survivors
    back into the index between sessions to catch them on the next
    ingest.

    Scale shape per batch: the batch side of the candidate join is one
    micro-batch (typically broadcastable); the index side re-projects
    slim band keys only — the 100 TB history never re-signs.
    """
    from ..functions.dedup import dedup_against_corpus

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        kept = dedup_against_corpus(
            batch_df,
            index=index,
            id_col=id_col,
            text_col=text_col,
            threshold=threshold,
            **dedup_kwargs,
        )
        kept.write.format(format).mode("append").save(target_path)

    return _start(stream_df, sink, checkpoint_dir, query_name, available_now)


def _maintain_sink(
    target_path: str,
    checkpoint_dir: str,
    staging_prefix: str,
    format: str,
    fold: Callable[[DataFrame, "DataFrame | None"], DataFrame],
):
    """The exactly-once ``foreachBatch`` sink shared by every state-table
    maintainer.  Per non-empty batch:

    1. heal the state dir (``sources/write.py``'s park/heal/publish
       protocol) and sweep orphaned ``<staging_prefix>*`` staging dirs
       (always safe: the batch that produced one is replayed);
    2. replay skip — the ``<checkpoint lineage>:<batch id>`` marker
       INSIDE the state dir is published with the data, so a replayed
       batch (same lineage, id ≤ marker) is a no-op while a NEW query
       over existing state starts a fresh lineage and is never skipped;
    3. ``fold(batch_df, state)`` builds the next state frame from the
       batch and the current state (None before the first batch);
    4. stage it with the marker and publish it.

    SINGLE WRITER per target: the orphan-staging sweep deletes every
    ``<name><staging_prefix>*`` sibling, so a second concurrently
    maintaining query on the same ``target_path`` would have its
    in-flight staging swept (it fails loudly at its swap, never
    corrupts state — but don't do it).  Run concurrent maintainers
    against distinct targets.
    """
    import time

    from ..sources.write import HadoopFs, _heal_dataset, _publish, _siblings

    base = target_path.rstrip("/")
    lineage = checkpoint_dir.rstrip("/")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        fs = HadoopFs(spark, base)
        exists = _heal_dataset(fs, base)
        for orphan in _siblings(fs, base, staging_prefix):
            fs.delete(orphan)
        if exists and fs.exists(f"{base}/_last_batch"):
            try:
                last_lineage, _, last_id = fs.read_text(
                    f"{base}/_last_batch"
                ).strip().rpartition(":")
                if last_lineage == lineage and batch_id <= int(last_id):
                    return  # replayed batch — already folded in
            except Exception:
                pass  # unreadable marker: fall through and apply
        state = spark.read.format(format).load(base) if exists else None
        staging = f"{base}{staging_prefix}{int(time.time() * 1000)}"
        fold(batch_df, state).write.format(format).mode("overwrite").save(
            staging
        )
        fs.write_text(f"{staging}/_last_batch", f"{lineage}:{batch_id}")
        _publish(fs, base, staging)

    return sink


def stream_agg_maintain(
    stream_df: DataFrame,
    target_path: str,
    group_key: "Sequence[str] | str",
    sums: "dict[str, str]",
    checkpoint_dir: str,
    op_col: "str | None" = None,
    count_col: str = "n",
    format: str = "parquet",
    query_name: str = "agg_maintain",
    available_now: bool = True,
):
    """Streaming MATERIALIZED AGGREGATE: every micro-batch folds into a
    per-key (COUNT + decimal SUM) state table at ``target_path`` via
    :func:`~...operators.core.apply_agg_delta` — the streaming face of
    incremental view maintenance.  Append-only streams need no op
    column (every row is an 'I'); CDC streams pass ``op_col`` with
    before-images per the apply_agg_delta contract, letting updates and
    deletes REVISE the aggregate — something watermark-windowed
    streaming aggregation fundamentally cannot do.

    Why not ``groupBy().agg()`` on the stream?  Complete-mode streaming
    aggregation holds every group in executor state and rewrites the
    whole result each trigger; this sink's state lives in a parquet
    table of one slim row per group, each batch costs one
    churn-proportional delta aggregate + one full-outer merge on the
    (small) state frame, and the state is directly queryable between
    batches like any other table.

    Exactly-once: delta application is NOT idempotent (unlike
    merge_upsert), so each state version carries the
    ``<checkpoint>:<batch id>`` that produced it in a ``_last_batch``
    marker INSIDE the state dir — data and marker swap atomically
    together, and a replayed batch (same checkpoint lineage, id ≤
    marker) is skipped; a NEW query over existing state starts a new
    lineage and is never skipped.  Batch-order independence holds
    because decimal addition commutes and associates exactly.
    """
    from ..operators.core import apply_agg_delta

    keys = [group_key] if isinstance(group_key, str) else list(group_key)

    def fold(batch_df: DataFrame, state: "DataFrame | None") -> DataFrame:
        changes = (
            batch_df if op_col is not None
            else batch_df.withColumn("__op", F.lit("I"))
        )
        if state is None:
            dec = "decimal(27,6)"
            state = batch_df.sparkSession.createDataFrame(
                [],
                changes.select(
                    *keys,
                    F.lit(0).cast("long").alias(count_col),
                    *[F.lit(0).cast(dec).alias(o) for o in sums],
                ).schema,
            )
        return apply_agg_delta(
            state.select(*state.columns), changes, keys, sums,
            count_col=count_col, op_col=op_col or "__op",
        )

    sink = _maintain_sink(target_path, checkpoint_dir, "__agg_", format, fold)
    return _start(stream_df, sink, checkpoint_dir, query_name, available_now)


def stream_quality_monitor(
    stream_df: DataFrame,
    report_path: str,
    checkpoint_dir: str,
    format: str = "parquet",
    query_name: str = "quality_monitor",
    available_now: bool = True,
    **constraints,
):
    """Streaming data-quality monitoring: every micro-batch runs the
    ROW-LOCAL half of :func:`~...functions.quality.check_constraints`
    (not-null / accepted values / ranges / custom predicates — each a
    conditional sum in ONE pass over the batch) and APPENDS
    ``(batch_id, constraint, violations)`` rows to a report table —
    the always-on pipeline guard that catches an upstream schema or
    quality break within one trigger instead of at the next full scan.

    Row-local violation counts are additive across batches, so the
    report's per-constraint SUM equals the full-table counts no matter
    how the stream was batched (the oracle checks exactly this).
    Dataset-level checks (unique keys, foreign keys) are NOT additive —
    run them in the batch layer; passing them here raises.
    """
    from ..functions.quality import check_constraints

    if any(k in constraints for k in ("unique", "foreign_keys")):
        raise ValueError(
            "stream_quality_monitor: unique/foreign_keys are dataset-level "
            "constraints — not micro-batch-additive; check them in batch"
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # Empty batches are NOT skipped (r14 empty-corpus gate): the
        # report must carry one 0-violations row per constraint per
        # batch, or "no data arrived" is indistinguishable from "the
        # monitor never ran" — the row-local counts are a global agg,
        # which yields exactly one all-zero row over an empty batch.
        spark = batch_df.sparkSession
        # foreachBatch is at-least-once: a batch replayed after a crash
        # between this append and the checkpoint commit would write
        # duplicate (batch_id, constraint) rows and inflate the
        # per-constraint SUM the docstring promises.  Skip (lineage,
        # batch_id) pairs already in the report — keyed on the
        # checkpoint lineage exactly like stream_agg_maintain's marker,
        # because batch ids restart at 0 for every checkpoint: a NEW
        # query appending to the same report must never be mistaken for
        # a replay.  The probe is footer-stats-prunable (batch_id
        # equality + limit 1) over one slim row per (batch, constraint),
        # so it stays cheap at any stream length.
        from ..sources.write import HadoopFs

        lineage = checkpoint_dir.rstrip("/")
        if HadoopFs(spark, report_path).exists(report_path.rstrip("/")):
            # read with the EXPECTED schema (derived lazily from this
            # batch's constraint set — schema resolution only, no job):
            # schema inference from footers would let a pre-upgrade
            # file (no lineage column) hide the column the new files
            # carry and silently disable the dedup below, and
            # mergeSchema would instead read EVERY footer per batch —
            # O(batches²) footer I/O over a long-lived monitor.  With
            # an explicit schema Spark reads no footer at all; legacy
            # rows surface lineage as NULL, which the equality filter
            # correctly treats as not-this-lineage.
            expected = (
                check_constraints(batch_df, **constraints)
                .withColumn("batch_id", F.lit(0).cast("long"))
                .withColumn("lineage", F.lit(""))
                .schema
            )
            prior = (
                spark.read.schema(expected).format(format).load(report_path)
            )
            if "lineage" in prior.columns:  # pre-upgrade reports lack it
                replayed = (
                    prior.filter(
                        (F.col("batch_id") == F.lit(batch_id).cast("long"))
                        & (F.col("lineage") == F.lit(lineage))
                    )
                    .limit(1).count()
                )
                if replayed:
                    return
        rep = (
            check_constraints(batch_df, **constraints)
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .withColumn("lineage", F.lit(lineage))
        )
        rep.write.format(format).mode("append").save(report_path)

    return _start(stream_df, sink, checkpoint_dir, query_name, available_now)


def _null_safe_state_merge(
    state: DataFrame, batch: DataFrame, keys: "Sequence[str]"
):
    """Full-outer state-vs-batch join that treats NULL group keys as
    EQUAL (``eqNullSafe``), plus the coalesced key columns to select.

    A plain ``join(..., keys, "full_outer")`` never matches null keys,
    so a null-key state row and a null-key batch row both survive as
    two distinct rows — the state table forks one extra null row per
    batch instead of folding (caught by the r13 null-injected oracle
    sweep: the theta maintainer emitted a duplicated null group).  Same
    contract as apply_agg_delta's merge (operators/core.py).
    """
    b = batch.select(
        *[F.col(k).alias(f"__bk_{k}") for k in keys],
        *[c for c in batch.columns if c not in keys],
    )
    cond = None
    for k in keys:
        c = F.col(f"__bk_{k}").eqNullSafe(F.col(k))
        cond = c if cond is None else (cond & c)
    merged = state.join(b, cond, "full_outer")
    key_cols = [
        F.coalesce(F.col(k), F.col(f"__bk_{k}")).alias(k) for k in keys
    ]
    return merged, key_cols


def _sketch_fold(
    keys: "Sequence[str]",
    sketch_col: str,
    agg: Column,
    union: Callable[[str, str], Column],
):
    """The ``fold`` of the HLL, KLL and theta maintainers: ``agg``
    sketches each key of the batch, ``union(old, new)`` merges a key
    present in both the state and the batch, and a key in only one of
    them keeps its sketch."""

    def fold(batch_df: DataFrame, state: "DataFrame | None") -> DataFrame:
        batch_sk = batch_df.groupBy(*keys).agg(agg.alias(sketch_col))
        if state is None:
            return batch_sk
        state = state.select(*keys, F.col(sketch_col).alias("__old"))
        merged, key_cols = _null_safe_state_merge(state, batch_sk, keys)
        return merged.select(
            *key_cols,
            F.when(
                F.col("__old").isNotNull() & F.col(sketch_col).isNotNull(),
                union("__old", sketch_col),
            )
            .otherwise(F.coalesce("__old", sketch_col))
            .alias(sketch_col),
        )

    return fold


def stream_distinct_sketch_maintain(
    stream_df: DataFrame,
    target_path: str,
    group_key: "Sequence[str] | str",
    value_col: str,
    checkpoint_dir: str,
    lg_config_k: int = 12,
    format: str = "parquet",
    query_name: str = "sketch_maintain",
    available_now: bool = True,
):
    """Streaming MATERIALIZED DISTINCT COUNT: every micro-batch folds an
    HLL sketch of ``value_col`` into a per-key state table at
    ``target_path`` — the approximate-distinct sibling of
    :func:`stream_agg_maintain` (which maintains exact COUNT/SUM).
    Query the state any time with
    :func:`~...functions.stats.merge_distinct_sketches` — per key,
    across keys, over any key subset — without touching the stream's
    history.

    Why sketches here: distinct-count is NOT delta-foldable from counts
    (a re-seen user must not increment), and exact distinct state grows
    with cardinality.  An HLL register set is a FIXED-size (2^lgK·~1 B)
    commutative-idempotent accumulator: re-delivered values fold in as
    no-ops, so the merge itself is replay-tolerant — the lineage marker
    below is still kept so a replayed batch costs nothing and the state
    version history stays linear.

    Exactly-once: same contract as stream_agg_maintain — atomic
    park-and-swap of the state dir with a ``<checkpoint>:<batch id>``
    marker inside it, crash healing restores parked state and sweeps
    orphaned staging dirs.

    Scale shape per batch: one hash-agg of the batch (a KB sketch per
    touched key crosses the shuffle), a full-outer join against the
    (group-cardinality) state frame, ``hll_union`` on matched keys —
    cost ∝ state size + batch churn, never stream history.
    """
    keys = [group_key] if isinstance(group_key, str) else list(group_key)
    fold = _sketch_fold(
        keys, "sketch", F.hll_sketch_agg(value_col, F.lit(int(lg_config_k))),
        F.hll_union,
    )
    sink = _maintain_sink(target_path, checkpoint_dir, "__sk_", format, fold)
    return _start(stream_df, sink, checkpoint_dir, query_name, available_now)


def stream_quantile_sketch_maintain(
    stream_df: DataFrame,
    target_path: str,
    group_key: "Sequence[str] | str",
    value_col: str,
    checkpoint_dir: str,
    k: int = 200,
    format: str = "parquet",
    query_name: str = "quantile_maintain",
    available_now: bool = True,
):
    """Streaming MATERIALIZED QUANTILES: every micro-batch folds a KLL
    sketch of ``value_col`` into a per-key state table — the quantile
    member of the maintained-state family (exact COUNT/SUM:
    :func:`stream_agg_maintain`; distinct: 
    :func:`stream_distinct_sketch_maintain`).  Query the state any time
    with :func:`~...functions.stats.merge_quantile_sketches` — per key,
    across keys, over any key subset — without rescanning the stream's
    history; ``n`` stays EXACT through every merge even though the
    quantile values are sketch estimates.

    Same exactly-once contract as its siblings (the shared
    :func:`_maintain_sink`: crash healing, orphaned
    staging sweep, lineage-keyed replay skip, atomic park-and-swap) —
    needed here even more than for HLL, because KLL folding is NOT
    idempotent (re-adding the same values inflates n and shifts
    ranks), so the replay marker is the correctness line, not just an
    optimization.

    The value column must be double, float, or bigint (the KLL natives
    are dtype-specific; the state column is ``qsketch__<dtype>__k<k>``,
    matching the batch rollup's schema so batch and streaming state
    interoperate — the k in the name is what lets
    ``merge_quantile_sketches`` pin the merge k instead of falling into
    Spark's partitioning-dependent k=200 default buffer, the r12
    instance of the theta-union parameter bug class).  The per-batch
    fold itself uses pairwise ``kll_sketch_merge``, which preserves the
    build k (header-verified in test_sketch_params.py).

    Scale shape per batch: one hash-agg of the batch (a KB sketch per
    touched key), a full-outer join against the group-cardinality
    state frame, ``kll_sketch_merge`` on matched keys — cost ∝ state
    size + batch churn, never stream history.
    """
    from ..functions.stats import _KLL_SUFFIX

    keys = [group_key] if isinstance(group_key, str) else list(group_key)
    dtype = dict(stream_df.dtypes)[value_col]
    if dtype not in _KLL_SUFFIX:
        raise ValueError(
            f"stream_quantile_sketch_maintain: {value_col} is {dtype}; KLL "
            "requires double, float, or bigint (cast explicitly if lossless)"
        )
    suffix = _KLL_SUFFIX[dtype]
    agg = getattr(F, f"kll_sketch_agg_{suffix}")
    pair_merge = getattr(F, f"kll_sketch_merge_{suffix}")
    sketch_col = f"qsketch__{suffix}__k{int(k)}"
    fold = _sketch_fold(
        keys, sketch_col, agg(value_col, F.lit(int(k))), pair_merge
    )
    sink = _maintain_sink(target_path, checkpoint_dir, "__qs_", format, fold)
    return _start(stream_df, sink, checkpoint_dir, query_name, available_now)


def stream_freq_sketch_maintain(
    stream_df: DataFrame,
    target_path: str,
    group_key: "Sequence[str] | str",
    value_col: str,
    checkpoint_dir: str,
    eps: float = 1e-3,
    confidence: float = 0.99,
    seed: int = 42,
    format: str = "parquet",
    query_name: str = "freq_maintain",
    available_now: bool = True,
):
    """Streaming MATERIALIZED FREQUENCY sketch: every micro-batch folds
    a Count-Min sketch of ``value_col`` into a per-key state table —
    the frequency member completing the maintained-state family (exact
    COUNT/SUM: :func:`stream_agg_maintain`; distinct:
    :func:`stream_distinct_sketch_maintain`; quantiles:
    :func:`stream_quantile_sketch_maintain`).  Query the state any time
    with :func:`~...functions.stats.freq_sketch_estimate` (point
    counts) or re-merge arbitrary key subsets with
    :func:`~...functions.stats.merge_freq_sketches_agg` — never a
    stream-history rescan.

    Spark has no CMS SQL merge aggregate, so the state merge runs as
    the numpy cell-wise reduce (``merge_freq_sketches_agg``) over the
    UNION of state and batch sketch rows — Arrow-batched executor-side
    work ∝ state size + batch churn.  All sketches for one target must
    share (eps, confidence, seed); a mismatch (e.g. retargeting an
    existing state dir with different parameters) raises rather than
    silently mis-merging.  CMS counters are deterministic for a given
    seed, so the maintained state is byte-identical to a single-pass
    sketch over all delivered rows (asserted in tests).  CMS folding is
    NOT idempotent (counters ADD, unlike HLL's max-registers), so the
    lineage-keyed replay marker is a correctness line here exactly as
    for KLL: without it a replayed batch would double-count.

    Same exactly-once contract as its siblings (shared
    :func:`_maintain_sink`: crash healing, orphan-staging sweep,
    lineage-keyed replay marker, atomic park-and-swap).  State column:
    ``fsketch`` (matches :func:`~...functions.stats.freq_sketch_rollup`
    so batch and streaming frequency state interoperate).

    Scale shape per batch: one partial-aggregable hash-agg of the
    batch (a fixed ~ceil(2/eps)·ceil(log2(1/(1-confidence)))·8 B sketch
    per touched key), then one Arrow pass over (state ∪ batch) sketch
    rows — cost ∝ state + churn, never stream history.
    """
    keys = [group_key] if isinstance(group_key, str) else list(group_key)

    def fold(batch_df: DataFrame, state: "DataFrame | None") -> DataFrame:
        from ..functions.stats import merge_freq_sketches_agg

        batch_sk = batch_df.groupBy(*keys).agg(
            F.count_min_sketch(
                value_col, F.lit(float(eps)), F.lit(float(confidence)),
                F.lit(int(seed)),
            ).alias("fsketch")
        )
        if state is None:
            return batch_sk
        return merge_freq_sketches_agg(
            state.select(*keys, "fsketch").unionByName(batch_sk),
            group_cols=keys,
        )

    sink = _maintain_sink(target_path, checkpoint_dir, "__fs_", format, fold)
    return _start(stream_df, sink, checkpoint_dir, query_name, available_now)


def stream_theta_sketch_maintain(
    stream_df: DataFrame,
    target_path: str,
    group_key: "Sequence[str] | str",
    value_col: str,
    checkpoint_dir: str,
    lg_k: int = 14,
    format: str = "parquet",
    query_name: str = "theta_maintain",
    available_now: bool = True,
):
    """Streaming MATERIALIZED DISTINCT COUNT **with set algebra**:
    every micro-batch folds a Theta sketch of ``value_col`` into a
    per-key state table — the set-algebra member of the
    maintained-state family (exact agg / HLL / KLL / CMS).  Unlike the
    HLL maintainer, the maintained state answers INTERSECTION and
    DIFFERENCE questions across keys ("users active in both cohorts")
    via :func:`~...functions.stats.audience_overlap`-style sketch
    pairing — and estimates are EXACT while a key's distinct count
    stays under ~2^lg_k retained entries, which also makes this state
    oracle-checkable against COUNT(DISTINCT).

    Replay tolerance mirrors HLL: theta union is idempotent (a
    re-delivered value's hash is already retained), so the lineage
    marker below is an optimization and a version-history guard, not
    the correctness line it is for KLL/CMS.

    Same exactly-once contract as its siblings (shared
    :func:`_maintain_sink`: crash healing, orphan-staging sweep,
    lineage-keyed replay marker, atomic park-and-swap).  State column
    ``sketch`` matches :func:`~...functions.stats.theta_sketch_rollup`
    so batch and streaming theta state interoperate.

    Scale shape per batch: one partial-aggregable hash-agg of the
    batch (a KB sketch per touched key), full-outer merge against the
    group-cardinality state frame, ``theta_union`` on matched keys —
    cost ∝ state + churn, never stream history.
    """
    keys = [group_key] if isinstance(group_key, str) else list(group_key)
    fold = _sketch_fold(
        keys, "sketch", F.theta_sketch_agg(value_col, F.lit(int(lg_k))),
        lambda old, new: F.theta_union(old, new, F.lit(int(lg_k))),
    )
    sink = _maintain_sink(target_path, checkpoint_dir, "__th_", format, fold)
    return _start(stream_df, sink, checkpoint_dir, query_name, available_now)
