"""Structured-Streaming tests: drive the events parquet through the
streaming path with availableNow triggers (synchronous)."""

import pytest
from pyspark.sql import functions as F

from asakusafw_spark_spark.streaming import (
    stream_parquet_source,
    windowed_aggregate,
    sessionize,
    stream_dedup,
    stateful_running_agg,
    run_available_now,
)

EVENTS_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, value double, props string"
)


@pytest.fixture(scope="module")
def events_dir(sf_dir, tmp_path_factory):
    # file-stream sources watch a DIRECTORY; stage the single parquet file
    d = tmp_path_factory.mktemp("events_stream")
    import shutil

    shutil.copy(f"{sf_dir}/events.parquet", d / "events.parquet")
    return str(d)


@pytest.fixture()
def events_stream(spark, events_dir):
    return stream_parquet_source(spark, events_dir, EVENTS_SCHEMA, ts_is_nanos=True)


@pytest.fixture()
def events_batch(spark, sf_dir):
    # read_parquet delivers ts as a µs-truncated timestamp (TIMESTAMP_NTZ
    # natively on Spark 4.1+; legacy-flag rebuild on older Sparks)
    from asakusafw_spark_spark.sources import read_parquet

    return read_parquet(spark, f"{sf_dir}/events.parquet")


def test_windowed_aggregate_matches_batch(spark, events_stream, events_batch, tmp_path):
    agg = windowed_aggregate(
        events_stream,
        "ts",
        "1 hour",
        {"n": F.count(F.lit(1)), "v": F.sum("value")},
        keys=["event_type"],
    )
    run_available_now(agg, "win_agg", str(tmp_path / "ck"))
    got = spark.sql("SELECT * FROM win_agg")
    batch = (
        events_batch.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
    )
    assert got.count() == batch.count()
    merged = got.select("window_start", "event_type", "n")
    assert merged.agg(F.sum("n")).first()[0] == events_batch.count()


def test_sessionize_runs(spark, events_stream, tmp_path):
    s = sessionize(
        events_stream,
        "ts",
        "5 minutes",
        ["user_id"],
        {"n_events": F.count(F.lit(1))},
    )
    run_available_now(s, "sessions", str(tmp_path / "ck2"), mode="complete")
    out = spark.sql("SELECT * FROM sessions")
    assert out.count() > 0
    assert out.filter(F.col("session_end") <= F.col("session_start")).count() == 0


def test_stream_dedup(spark, events_stream, events_batch, tmp_path):
    d = stream_dedup(events_stream, ["user_id", "event_type"], "ts")
    run_available_now(d, "dedup_out", str(tmp_path / "ck3"))
    out = spark.sql("SELECT * FROM dedup_out")
    # (user, type, ts) triples are unique in the synthetic data → no drops
    assert out.count() == events_batch.dropDuplicates(["user_id", "event_type", "ts"]).count()


def test_stateful_running_agg(spark, events_stream, events_batch, tmp_path):
    r = stateful_running_agg(events_stream, ["user_id"], "value")
    run_available_now(r, "running", str(tmp_path / "ck4"))
    out = spark.sql("SELECT * FROM running")
    # final state per user == batch aggregate (availableNow drains all)
    batch = events_batch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
    )
    got = {r.user_id: (r.running_count, round(r.running_sum, 6)) for r in out.collect()}
    want = {r.user_id: (r.n, round(r.s, 6)) for r in batch.collect()}
    assert got == want


def test_stream_dedup_per_key_scope(spark, events_stream, events_batch, tmp_path):
    # scope="key": dropDuplicatesWithinWatermark — exactly one survivor per
    # (user, type) key regardless of how many event times each key has
    d = stream_dedup(events_stream, ["user_id", "event_type"], "ts", scope="key")
    run_available_now(d, "dedup_key_out", str(tmp_path / "ck_dk"))
    out = spark.sql("SELECT * FROM dedup_key_out")
    keys = events_batch.select("user_id", "event_type").distinct().count()
    assert out.count() == keys
    assert out.select("user_id", "event_type").distinct().count() == keys


def test_stream_to_direct_output_flat_and_grouped(spark, events_stream, events_batch, tmp_path):
    from asakusafw_spark_spark.streaming import stream_to_direct_output

    # flat: every micro-batch under batch=<id>/, parquet, replay-idempotent
    base = str(tmp_path / "direct_flat")
    stream_to_direct_output(
        events_stream, base, str(tmp_path / "ck_df"), mode="append",
        query_name="to_flat",
    )
    back = spark.read.parquet(f"{base}/batch=*")
    assert back.count() == events_batch.count()

    # grouped: pattern-generated one-file-per-path with per-file ordering
    base2 = str(tmp_path / "direct_grouped")
    stream_to_direct_output(
        events_stream.select("event_id", "user_id", "event_type"),
        base2, str(tmp_path / "ck_dg"),
        pattern="type={event_type}/events.csv",
        ordering=[("event_id", "asc")], format="csv", mode="append",
        query_name="to_grouped",
    )
    import glob as g

    files = g.glob(f"{base2}/batch=*/type=*/events.csv")
    assert files
    total = sum(len(open(f).readlines()) - 1 for f in files)
    assert total == events_batch.count()
    keys = [int(line.split(",")[0]) for line in open(sorted(files)[0]).readlines()[1:]]
    assert keys == sorted(keys)


def test_stream_merge_upsert_cdc_apply(spark, tmp_path):
    """Micro-batched CDC stream applied through the merge sink: final
    table state equals the last version of every surviving key."""
    import shutil

    from asakusafw_spark_spark.streaming import stream_merge_upsert

    target = str(tmp_path / "state")
    # initial state
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)],
        "k long, name string, v double",
    ).write.parquet(target)

    # two CDC files → two micro-batches (maxFilesPerTrigger=1):
    # batch 1 updates k=2 and inserts k=4; batch 2 re-updates k=2 and
    # tombstones k=3 — last write wins across batches
    cdc_dir = tmp_path / "cdc"
    cdc_dir.mkdir()
    b1 = spark.createDataFrame(
        [(2, "b1", 2.1, False), (4, "d", 4.0, False)],
        "k long, name string, v double, dead boolean",
    )
    b2 = spark.createDataFrame(
        [(2, "b2", 2.2, False), (3, None, 0.0, True)],
        "k long, name string, v double, dead boolean",
    )
    s1 = tmp_path / "s1"; s2 = tmp_path / "s2"
    b1.coalesce(1).write.parquet(str(s1))
    b2.coalesce(1).write.parquet(str(s2))
    # ordered arrival: file mtimes decide batch order for the file source
    import glob as g, time as _t

    f1 = g.glob(f"{s1}/part-*.parquet")[0]
    f2 = g.glob(f"{s2}/part-*.parquet")[0]
    shutil.copy(f1, cdc_dir / "0001.parquet")
    _t.sleep(1.1)
    shutil.copy(f2, cdc_dir / "0002.parquet")

    stream = (
        spark.readStream.schema("k long, name string, v double, dead boolean")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(cdc_dir))
    )
    stream_merge_upsert(
        stream, target, "k", str(tmp_path / "ck_cdc"), delete_col="dead",
        query_name="cdc_apply",
    )
    got = {r.k: (r.name, r.v) for r in spark.read.parquet(target).collect()}
    assert got == {1: ("a", 1.0), 2: ("b2", 2.2), 4: ("d", 4.0)}


def test_stream_ts_instant_is_session_tz_invariant(spark, events_dir, tmp_path):
    # The streamed event-time instant must equal the parquet naive value
    # read as UTC in EVERY session timezone (ADVICE r04: a bare NTZ→
    # TIMESTAMP cast shifts event times in non-UTC sessions).
    # unix_micros() is tz-independent on an instant, so equal micros ⇒
    # equal instants.
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    got = {}
    for i, tz in enumerate(("UTC", "Asia/Tokyo")):
        spark.conf.set("spark.sql.session.timeZone", tz)
        try:
            src = stream_parquet_source(
                spark, events_dir, EVENTS_SCHEMA, ts_is_nanos=True
            )
            agg = src.select(
                F.lit(1).alias("one"), F.unix_micros("ts").alias("us")
            ).groupBy("one").agg(
                F.min("us").alias("lo"), F.max("us").alias("hi")
            )
            run_available_now(
                agg, f"tz_inv_{i}", str(tmp_path / f"ck{i}"), mode="complete"
            )
            got[tz] = spark.sql(f"SELECT lo, hi FROM tz_inv_{i}").collect()[0]
        finally:
            spark.conf.set("spark.sql.session.timeZone", prev_tz)
    assert (got["UTC"].lo, got["UTC"].hi) == (
        got["Asia/Tokyo"].lo,
        got["Asia/Tokyo"].hi,
    )


def test_stateless_function_ops_compose_with_streams(
    spark, events_stream, events_batch, tmp_path
):
    """extract_json / normalize_text are pure projections, so they run
    unchanged inside a streaming query — the micro-batch result equals
    the batch result (semi-structured parsing at stream ingestion)."""
    from asakusafw_spark_spark.functions import extract_json
    from asakusafw_spark_spark.streaming import run_available_now

    streamed = extract_json(events_stream, "props", {"k": "$.k:bigint"}).select(
        "event_id", "k"
    )
    run_available_now(streamed, "json_stream", str(tmp_path / "ck"), mode="append")
    got = {
        r["event_id"]: r["k"] for r in spark.sql("SELECT * FROM json_stream").collect()
    }
    want = {
        r["event_id"]: r["k"]
        for r in extract_json(events_batch, "props", {"k": "$.k:bigint"})
        .select("event_id", "k")
        .collect()
    }
    assert got == want and len(got) > 0


def test_stream_dedup_ingest_appends_only_survivors(spark, sf_dir, tmp_path):
    """Micro-batched ingestion dedup equals the batch operator: the
    survivor set is independent of batch boundaries because the index
    is static and decisions are per-document."""
    import glob
    import shutil

    from asakusafw_spark_spark.functions import (
        build_dedup_index,
        dedup_against_corpus,
    )
    from asakusafw_spark_spark.streaming import stream_dedup_ingest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    history = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    index = build_dedup_index(history)

    stream_dir = tmp_path / "stream_in"
    stream_dir.mkdir()
    for i, part in enumerate(
        [batch.filter(F.col("doc_id") % 4 == 1), batch.filter(F.col("doc_id") % 4 == 3)]
    ):
        stage = tmp_path / f"stage{i}"
        part.coalesce(1).write.parquet(str(stage))
        shutil.copy(glob.glob(f"{stage}/part-*.parquet")[0], stream_dir / f"{i}.parquet")

    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    target = str(tmp_path / "survivors")
    stream_dedup_ingest(
        stream, index, target, str(tmp_path / "ck"), threshold=0.5,
        query_name="t_ingest",
    )
    streamed_ids = sorted(
        r["doc_id"] for r in spark.read.parquet(target).collect()
    )
    batch_ids = sorted(
        r["doc_id"]
        for r in dedup_against_corpus(batch, index=index, threshold=0.5).collect()
    )
    assert streamed_ids == batch_ids
    assert 0 < len(streamed_ids) < batch.count()  # some docs were dropped


def test_stream_agg_maintain_incremental_state(spark, tmp_path):
    """Micro-batched incremental aggregate: two append batches fold into
    the state table one at a time; final state equals the full
    aggregate of all rows; a CDC batch with before-images then REVISES
    the aggregate (the thing windowed streaming agg cannot do); a
    replayed batch id is skipped (marker idempotence)."""
    import glob as g
    import shutil
    import time as _t

    from asakusafw_spark_spark.streaming import stream_agg_maintain

    target = str(tmp_path / "agg_state")
    src = tmp_path / "feed"
    src.mkdir()
    b1 = spark.createDataFrame(
        [("a", 10.0), ("a", 20.0), ("b", 5.0)], "g string, v double"
    )
    b2 = spark.createDataFrame(
        [("a", 1.0), ("c", 7.0)], "g string, v double"
    )
    for i, b in enumerate([b1, b2]):
        stage = tmp_path / f"s{i}"
        b.coalesce(1).write.parquet(str(stage))
        shutil.copy(
            g.glob(f"{stage}/part-*.parquet")[0], src / f"{i:04d}.parquet"
        )
        _t.sleep(1.1)

    stream = (
        spark.readStream.schema("g string, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    stream_agg_maintain(
        stream, target, "g", {"sum_v": "v"}, str(tmp_path / "ck_agg"),
        query_name="t_agg_maintain",
    )
    state = {
        r["g"]: (r["n"], float(r["sum_v"]))
        for r in spark.read.parquet(target).collect()
    }
    assert state == {"a": (3, 31.0), "b": (1, 5.0), "c": (1, 7.0)}

    # CDC revision: delete one 'a' row (v=20), update the b row 5→8
    from asakusafw_spark_spark.streaming.stream import stream_agg_maintain as sam
    cdc = spark.createDataFrame(
        [("a", 20.0, 20.0, "D"), ("b", 8.0, 5.0, "U")],
        "g string, v double, __old_v double, __op string",
    )
    src2 = tmp_path / "feed2"
    src2.mkdir()
    stage = tmp_path / "s_cdc"
    cdc.coalesce(1).write.parquet(str(stage))
    shutil.copy(g.glob(f"{stage}/part-*.parquet")[0], src2 / "0000.parquet")
    stream2 = (
        spark.readStream.schema(
            "g string, v double, __old_v double, __op string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src2))
    )
    sam(
        stream2, target, "g", {"sum_v": "v"}, str(tmp_path / "ck_agg2"),
        op_col="__op", query_name="t_agg_maintain2",
    )
    state2 = {
        r["g"]: (r["n"], float(r["sum_v"]))
        for r in spark.read.parquet(target).collect()
    }
    assert state2 == {"a": (2, 11.0), "b": (1, 8.0), "c": (1, 7.0)}

    # marker carries the producing checkpoint lineage + batch id, so a
    # WITHIN-lineage replay is skipped but a new query never is
    from asakusafw_spark_spark.sources.write import HadoopFs
    fs = HadoopFs(spark, target)
    marker = fs.read_text(f"{target}/_last_batch").strip()
    assert marker.endswith(":0")  # second run's availableNow batch 0
    assert "ck_agg2" in marker


def test_stream_quality_monitor_additive_reports(spark, tmp_path):
    """Per-batch row-local constraint counts appended to a report table
    sum to the full-table counts regardless of batching; dataset-level
    constraints are refused."""
    import glob as g
    import shutil
    import time as _t

    import pytest as _pytest

    from asakusafw_spark_spark.streaming import stream_quality_monitor

    src = tmp_path / "feed"
    src.mkdir()
    b1 = spark.createDataFrame(
        [(1, "a", 5.0), (2, "zz", -1.0)], "k long, cat string, v double"
    )
    b2 = spark.createDataFrame(
        [(None, "a", 3.0), (4, "b", 200.0)], "k long, cat string, v double"
    )
    for i, b in enumerate([b1, b2]):
        stage = tmp_path / f"s{i}"
        b.coalesce(1).write.parquet(str(stage))
        shutil.copy(g.glob(f"{stage}/part-*.parquet")[0], src / f"{i:04d}.parquet")
        _t.sleep(1.1)

    stream = (
        spark.readStream.schema("k long, cat string, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    report = str(tmp_path / "report")
    stream_quality_monitor(
        stream, report, str(tmp_path / "ck_q"),
        query_name="t_quality_monitor",
        not_null=["k"],
        accepted_values={"cat": ["a", "b"]},
        ranges={"v": (0.0, 100.0)},
    )
    rep = spark.read.parquet(report)
    total = {
        r["constraint"]: r["n"]
        for r in rep.groupBy("constraint")
        .agg(F.sum("violations").alias("n"))
        .collect()
    }
    assert total == {
        "not_null(k)": 1,
        "accepted_values(cat)": 1,
        "range(v)": 2,      # -1.0 and 200.0
    }
    assert rep.select("batch_id").distinct().count() == 2

    with _pytest.raises(ValueError, match="dataset-level"):
        stream_quality_monitor(
            stream, report, str(tmp_path / "ck_q2"), unique=[["k"]]
        )


def test_stream_agg_maintain_heals_mid_swap_crash(spark, tmp_path):
    """A crash between _atomic_swap's park rename and the staging rename
    leaves the state dir MISSING with the data parked under __old_* —
    the next batch must restore the parked state and fold into it, not
    silently rebuild the aggregate from an empty base."""
    import glob as g
    import os
    import shutil

    from asakusafw_spark_spark.streaming import stream_agg_maintain

    target = str(tmp_path / "agg_state")
    src = tmp_path / "feed"
    src.mkdir()
    b1 = spark.createDataFrame(
        [("a", 10.0), ("b", 5.0)], "g string, v double"
    )
    stage = tmp_path / "s0"
    b1.coalesce(1).write.parquet(str(stage))
    shutil.copy(g.glob(f"{stage}/part-*.parquet")[0], src / "0000.parquet")
    stream = (
        spark.readStream.schema("g string, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    stream_agg_maintain(
        stream, target, "g", {"sum_v": "v"}, str(tmp_path / "ck1"),
        query_name="t_heal1",
    )
    # simulate the mid-swap crash: state parked, live dir gone
    os.rename(target, f"{target}__old_1111")
    assert not os.path.exists(target)

    src2 = tmp_path / "feed2"
    src2.mkdir()
    b2 = spark.createDataFrame([("a", 1.0), ("c", 7.0)], "g string, v double")
    stage2 = tmp_path / "s1"
    b2.coalesce(1).write.parquet(str(stage2))
    shutil.copy(g.glob(f"{stage2}/part-*.parquet")[0], src2 / "0000.parquet")
    stream2 = (
        spark.readStream.schema("g string, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src2))
    )
    stream_agg_maintain(
        stream2, target, "g", {"sum_v": "v"}, str(tmp_path / "ck2"),
        query_name="t_heal2",
    )
    state = {
        r["g"]: (r["n"], float(r["sum_v"]))
        for r in spark.read.parquet(target).collect()
    }
    # prior state restored AND new batch folded in — not {a:1, c:7}
    assert state == {"a": (2, 11.0), "b": (1, 5.0), "c": (1, 7.0)}
    assert not os.path.exists(f"{target}__old_1111")


def test_stream_quality_monitor_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-delivering a (lineage,
    batch_id) the report already holds must NOT append duplicate rows —
    while a NEW checkpoint lineage reusing batch id 0 must still
    append (batch ids restart at 0 per checkpoint)."""
    import glob as g
    import shutil

    from asakusafw_spark_spark.streaming import stream_quality_monitor

    src = tmp_path / "feed"
    src.mkdir()
    b1 = spark.createDataFrame([(1, 5.0), (None, -1.0)], "k long, v double")
    stage = tmp_path / "s0"
    b1.coalesce(1).write.parquet(str(stage))
    shutil.copy(g.glob(f"{stage}/part-*.parquet")[0], src / "0000.parquet")

    def run(ck):
        stream = (
            spark.readStream.schema("k long, v double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        stream_quality_monitor(
            stream, report, str(tmp_path / ck),
            query_name=f"t_replay_{ck}",
            not_null=["k"], ranges={"v": (0.0, 100.0)},
        )

    report = str(tmp_path / "report")
    run("ck1")
    n1 = spark.read.parquet(report).count()

    # same lineage, same batch id re-delivered: wipe the checkpoint so
    # the sink fires again with batch_id=0 under ck1's lineage
    import shutil as _sh
    _sh.rmtree(str(tmp_path / "ck1"))
    run("ck1")
    assert spark.read.parquet(report).count() == n1  # no duplicates

    # a NEW lineage's batch 0 is real data, not a replay
    run("ck2")
    rep = spark.read.parquet(report)
    assert rep.count() == 2 * n1
    assert rep.select("lineage").distinct().count() == 2


def test_stream_agg_maintain_drops_orphaned_staging(spark, tmp_path):
    """A crash between the staging write and _atomic_swap leaves a
    full-copy `<base>__agg_*` sibling behind; healing must delete it
    (the crashed batch is replayed and re-staged), or repeated crashes
    accumulate state-table copies beside the live dir."""
    import glob as g
    import os
    import shutil

    from asakusafw_spark_spark.streaming import stream_agg_maintain

    target = str(tmp_path / "agg_state")

    def feed(name, rows):
        src = tmp_path / name
        src.mkdir()
        stage = tmp_path / (name + "_s")
        spark.createDataFrame(rows, "g string, v double").coalesce(
            1
        ).write.parquet(str(stage))
        shutil.copy(g.glob(f"{stage}/part-*.parquet")[0], src / "0000.parquet")
        return (
            spark.readStream.schema("g string, v double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

    stream_agg_maintain(
        feed("f1", [("a", 10.0)]), target, "g", {"sum_v": "v"},
        str(tmp_path / "ck1"), query_name="t_orph1",
    )
    # simulate two crashed staging attempts (dirs only this sink names)
    os.makedirs(f"{target}__agg_111/junk")
    os.makedirs(f"{target}__agg_222")
    stream_agg_maintain(
        feed("f2", [("a", 1.0)]), target, "g", {"sum_v": "v"},
        str(tmp_path / "ck2"), query_name="t_orph2",
    )
    assert not g.glob(f"{target}__agg_*")  # orphans swept
    state = {
        r["g"]: (r["n"], float(r["sum_v"]))
        for r in spark.read.parquet(target).collect()
    }
    assert state == {"a": (2, 11.0)}


def test_stream_quality_monitor_replay_guard_survives_mixed_schema(
    spark, tmp_path
):
    """A report holding pre-upgrade files (no lineage column) must not
    blind the replay guard: without mergeSchema Spark can infer the
    report schema from an OLD footer, silently disabling the dedup and
    letting a replayed batch append duplicate rows."""
    import glob as g
    import shutil

    from pyspark.sql import functions as F

    from asakusafw_spark_spark.streaming import stream_quality_monitor

    src = tmp_path / "feed"
    src.mkdir()
    stage = tmp_path / "s0"
    spark.createDataFrame(
        [(1, 5.0), (None, -1.0)], "k long, v double"
    ).coalesce(1).write.parquet(str(stage))
    shutil.copy(g.glob(f"{stage}/part-*.parquet")[0], src / "0000.parquet")

    def run(ck):
        stream = (
            spark.readStream.schema("k long, v double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        stream_quality_monitor(
            stream, report, str(tmp_path / ck),
            query_name=f"t_mixed_{ck}", not_null=["k"],
        )

    report = str(tmp_path / "report")
    run("ck1")
    n1 = spark.read.parquet(report).count()

    # drop a PRE-UPGRADE file (no lineage column) into the report, named
    # to sort FIRST so schema inference reads its footer absent the fix
    legacy = (
        spark.read.parquet(report).drop("lineage")
        .withColumn("batch_id", F.lit(999).cast("long")).limit(1)
    )
    lstage = tmp_path / "legacy"
    legacy.coalesce(1).write.parquet(str(lstage))
    shutil.copy(
        g.glob(f"{lstage}/part-*.parquet")[0],
        f"{report}/a-legacy-00000.parquet",
    )
    n_mixed = spark.read.option("mergeSchema", "true").parquet(report).count()
    assert n_mixed == n1 + 1

    # re-deliver (lineage ck1, batch 0): the guard must still see the
    # lineage column through the mixed footers and skip the replay
    shutil.rmtree(str(tmp_path / "ck1"))
    run("ck1")
    assert (
        spark.read.option("mergeSchema", "true").parquet(report).count()
        == n_mixed
    )


def test_stream_distinct_sketch_maintain_matches_single_pass(
    spark, tmp_path
):
    """Per-batch HLL folding must converge to the same register state a
    single pass over all data produces (union is commutative/idempotent
    — the property that makes the state safe under replay), and a
    replayed batch must be skipped by the lineage marker."""
    import glob as g
    import shutil

    from pyspark.sql import functions as F

    from asakusafw_spark_spark.functions import merge_distinct_sketches
    from asakusafw_spark_spark.streaming import (
        stream_distinct_sketch_maintain,
    )

    target = str(tmp_path / "sk_state")
    src = tmp_path / "feed"
    src.mkdir()

    def add_file(idx, rows):
        stage = tmp_path / f"s{idx}"
        spark.createDataFrame(rows, "g string, u long").coalesce(
            1
        ).write.parquet(str(stage))
        shutil.copy(
            g.glob(f"{stage}/part-*.parquet")[0], src / f"{idx:04d}.parquet"
        )

    # batch 1: users 1-3 in g=a; batch 2 re-sees 2,3 and adds 4 + g=b
    add_file(0, [("a", 1), ("a", 2), ("a", 3)])

    def run(ck):
        stream = (
            spark.readStream.schema("g string, u long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        stream_distinct_sketch_maintain(
            stream, target, "g", "u", str(tmp_path / ck),
            query_name=f"t_sk_{ck}",
        )

    run("ck1")
    add_file(1, [("a", 2), ("a", 3), ("a", 4), ("b", 9)])
    run("ck1")

    state = spark.read.parquet(target)
    got = {
        r["g"]: r["e"]
        for r in merge_distinct_sketches(state, "g", out_col="e").collect()
    }
    # single pass over ALL rows — register states must coincide exactly
    allrows = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("a", 2), ("a", 3), ("a", 4), ("b", 9)],
        "g string, u long",
    )
    want = {
        r["g"]: r["e"]
        for r in allrows.groupBy("g")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("u", F.lit(12))
            ).alias("e")
        )
        .collect()
    }
    assert got == want == {"a": 4, "b": 1}

    # replay: wipe the checkpoint, re-deliver both batches — marker skips
    shutil.rmtree(str(tmp_path / "ck1"))
    run("ck1")
    state2 = spark.read.parquet(target)
    got2 = {
        r["g"]: r["e"]
        for r in merge_distinct_sketches(state2, "g", out_col="e").collect()
    }
    assert got2 == got


def test_stream_quantile_sketch_maintain_n_exact_and_replay(spark, tmp_path):
    """KLL folding is NOT idempotent (re-added values inflate n and
    shift ranks), so the lineage marker is the correctness line: after
    two batches the state's n must be EXACTLY the total row count, the
    p50 must sit in the data's middle, and a replayed delivery must
    change nothing."""
    import glob as g
    import shutil

    import pytest

    from asakusafw_spark_spark.functions import merge_quantile_sketches
    from asakusafw_spark_spark.streaming import (
        stream_quantile_sketch_maintain,
    )

    target = str(tmp_path / "qs_state")
    src = tmp_path / "feed"
    src.mkdir()

    def add_file(idx, values):
        stage = tmp_path / f"s{idx}"
        spark.createDataFrame(
            [("a", float(v)) for v in values], "g string, v double"
        ).coalesce(1).write.parquet(str(stage))
        shutil.copy(
            g.glob(f"{stage}/part-*.parquet")[0], src / f"{idx:04d}.parquet"
        )

    def run(ck):
        stream = (
            spark.readStream.schema("g string, v double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        stream_quantile_sketch_maintain(
            stream, target, "g", "v", str(tmp_path / ck),
            query_name=f"t_qs_{ck}",
        )

    add_file(0, range(0, 50))
    run("ck1")
    add_file(1, range(50, 100))
    run("ck1")

    got = merge_quantile_sketches(
        spark.read.parquet(target), quantiles=(0.5,), group_cols="g"
    ).first()
    assert got["n"] == 100  # exact through per-batch folding
    assert 45.0 <= got["q50"] <= 55.0  # 100 values < k=200: near-exact

    # replay both batches under the same lineage: marker skips, state
    # unchanged (without the marker, n would double)
    shutil.rmtree(str(tmp_path / "ck1"))
    run("ck1")
    again = merge_quantile_sketches(
        spark.read.parquet(target), quantiles=(0.5,), group_cols="g"
    ).first()
    assert again["n"] == 100 and again["q50"] == got["q50"]

    # dtype guard
    bad = spark.readStream.schema("g string, v string").parquet(str(src))
    with pytest.raises(ValueError, match="KLL requires"):
        stream_quantile_sketch_maintain(
            bad, target, "g", "v", str(tmp_path / "ck_bad")
        )


def test_stream_freq_sketch_maintain_byte_exact_and_replay(spark, tmp_path):
    """CMS maintained state must be BYTE-identical to a single-pass
    sketch over all delivered rows (counters are deterministic for a
    fixed seed and add cell-wise); a replayed delivery must change
    nothing; retargeting a state dir with different (eps, confidence,
    seed) must raise, not silently mis-merge."""
    import glob as g
    import shutil

    import pytest
    from pyspark.sql import functions as F

    from asakusafw_spark_spark.functions import (
        freq_sketch_estimate, freq_sketch_rollup,
    )
    from asakusafw_spark_spark.streaming import stream_freq_sketch_maintain

    target = str(tmp_path / "fs_state")
    src = tmp_path / "feed"
    src.mkdir()
    all_rows = []

    def add_file(idx, values):
        rows = [("a", v) for v in values]
        all_rows.extend(rows)
        stage = tmp_path / f"s{idx}"
        spark.createDataFrame(rows, "g string, v string").coalesce(
            1
        ).write.parquet(str(stage))
        shutil.copy(
            g.glob(f"{stage}/part-*.parquet")[0], src / f"{idx:04d}.parquet"
        )

    def run(ck, **kw):
        stream = (
            spark.readStream.schema("g string, v string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        stream_freq_sketch_maintain(
            stream, target, "g", "v", str(tmp_path / ck),
            query_name=f"t_fs_{ck}", **kw,
        )

    add_file(0, ["hot"] * 30 + ["warm"] * 5)
    run("ck1")
    add_file(1, ["hot"] * 20 + ["cold"])
    run("ck1")

    state = bytes(spark.read.parquet(target).first()["fsketch"])
    whole = bytes(
        freq_sketch_rollup(
            spark.createDataFrame(all_rows, "g string, v string"), "g", "v"
        ).first()["fsketch"]
    )
    assert state == whole  # maintained ≡ single-pass, byte-for-byte

    est = freq_sketch_estimate(spark, state, ["hot", "warm", "cold", "no"])
    assert est == {"hot": 50, "warm": 5, "cold": 1, "no": 0}

    # replay under the same lineage: marker skips, bytes unchanged
    shutil.rmtree(str(tmp_path / "ck1"))
    run("ck1")
    assert bytes(spark.read.parquet(target).first()["fsketch"]) == whole

    # a NEW batch with mismatched sketch parameters must refuse
    add_file(2, ["hot"])
    with pytest.raises(Exception, match="incompatible"):
        run("ck2", eps=0.01)


def test_stream_theta_sketch_maintain_set_algebra_and_replay(spark, tmp_path):
    """Theta maintained state answers intersection/difference across
    keys exactly (under 2^lg_k); union is idempotent so a replayed
    delivery changes nothing; batch and streaming theta state
    interoperate (same sketch column)."""
    import glob as g
    import shutil

    from pyspark.sql import functions as F

    from asakusafw_spark_spark.streaming import stream_theta_sketch_maintain

    target = str(tmp_path / "th_state")
    src = tmp_path / "feed"
    src.mkdir()

    def add_file(idx, rows):
        stage = tmp_path / f"s{idx}"
        spark.createDataFrame(rows, "g string, u long").coalesce(
            1
        ).write.parquet(str(stage))
        shutil.copy(
            g.glob(f"{stage}/part-*.parquet")[0], src / f"{idx:04d}.parquet"
        )

    def run(ck):
        stream = (
            spark.readStream.schema("g string, u long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        stream_theta_sketch_maintain(
            stream, target, "g", "u", str(tmp_path / ck),
            query_name=f"t_th_{ck}",
        )

    # a: {0..99}, b: {50..149}; second batch re-sends half of a
    add_file(0, [("a", u) for u in range(100)] + [("b", u) for u in range(50, 150)])
    add_file(1, [("a", u) for u in range(50, 100)])  # pure re-sends
    run("ck1")

    state = spark.read.parquet(target)
    est = F.theta_sketch_estimate
    a_sk = state.filter("g='a'").select(F.col("sketch").alias("__a"))
    got = (
        state.filter("g='b'")
        .crossJoin(a_sk)
        .select(
            est("sketch").cast("long").alias("nb"),
            est(F.theta_intersection("sketch", "__a")).cast("long").alias("ov"),
            est(F.theta_union("sketch", "__a", F.lit(14))).cast("long").alias("un"),
            est(F.theta_difference("sketch", "__a")).cast("long").alias("only_b"),
        )
        .first()
    )
    assert (got["nb"], got["ov"], got["un"], got["only_b"]) == (100, 50, 150, 50)

    # replay the whole feed under the same lineage: skipped, unchanged
    before = {r["g"]: bytes(r["sketch"]) for r in state.collect()}
    shutil.rmtree(str(tmp_path / "ck1"))
    run("ck1")
    after = {
        r["g"]: bytes(r["sketch"])
        for r in spark.read.parquet(target).collect()
    }
    assert after == before


def test_stream_quality_monitor_empty_batches_report_zero_rows(spark, tmp_path):
    """r14 empty-corpus contract: an EMPTY micro-batch still appends one
    0-violations row per constraint — 'no data arrived' must be
    distinguishable from 'the monitor never ran'.  Two empty feed files
    → two batches → per-constraint n_batches=2, violations=0."""
    import glob as g
    import shutil
    import time as _t

    from asakusafw_spark_spark.streaming import stream_quality_monitor

    src = tmp_path / "feed"
    src.mkdir()
    empty = spark.createDataFrame([], "k long, cat string, v double")
    for i in range(2):
        stage = tmp_path / f"s{i}"
        empty.coalesce(1).write.parquet(str(stage))
        shutil.copy(g.glob(f"{stage}/part-*.parquet")[0], src / f"{i:04d}.parquet")
        _t.sleep(1.1)

    stream = (
        spark.readStream.schema("k long, cat string, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    report = str(tmp_path / "report")
    stream_quality_monitor(
        stream, report, str(tmp_path / "ck_q"),
        query_name="t_quality_monitor_empty",
        not_null=["k"],
        ranges={"v": (0.0, 100.0)},
    )
    rep = spark.read.parquet(report)
    rows = {
        (r["constraint"], r["batch_id"]): r["violations"] for r in rep.collect()
    }
    assert len(rows) == 4  # 2 constraints x 2 batches
    assert all(v == 0 for v in rows.values())


def test_every_watermarked_streaming_query_bounds_event_time():
    """Structural event-time-window contract (VERDICT r15 Next #3).

    r15 fixed watermark poisoning query-by-query (a single far-future
    event advances the watermark and silently drops later micro-batches
    / stream-stream join matches); r16 makes the contract a registry
    lint so the class cannot recur: every registered query that reaches
    a WATERMARKING streaming primitive must validate event time through
    the shared ``_event_window`` helper, and must do so BEFORE the
    primitive call (the watermark is attached inside the primitive, so
    a bound applied after it would not protect the state store).

    Both sides are discovered, not hard-coded: the watermarking
    primitives by grepping the streaming module for ``withWatermark``,
    the queries from the live registry — a new streaming query or a new
    watermarking primitive is linted automatically.
    """
    import inspect
    import re

    import __spark_entry__ as E
    import asakusafw_spark_spark.streaming.stream as S

    wm_fns = {
        n
        for n, f in vars(S).items()
        if callable(f)
        and getattr(f, "__module__", None) == S.__name__
        and "withWatermark" in inspect.getsource(f)
    }
    # discovery sanity: the five known watermarking primitives must be
    # found, else the lint has gone vacuous
    assert {
        "windowed_aggregate",
        "sessionize",
        "stream_dedup",
        "stateful_running_agg",
        "stream_interval_join",
    } <= wm_fns

    offenders = []
    for name, fn in E.queries().items():
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):
            continue
        calls = [
            m.start()
            for w in wm_fns
            for m in re.finditer(rf"\b{w}\s*\(", src)
        ]
        if not calls:
            continue
        bound = src.find("_event_window(")
        if bound == -1:
            offenders.append((name, "no _event_window bound"))
        elif bound > min(calls):
            offenders.append((name, "bound applied after the primitive"))
    assert not offenders, (
        "streaming queries with an unbounded event-time watermark "
        f"(add _event_window before the primitive): {offenders}"
    )


def test_stage_split_feed_matches_filtered_writes(spark, sf_dir, tmp_path):
    """r17 staging optimization contract: the single partitionBy pass
    stages exactly the rows each old per-value filtered write staged
    (order-insensitive per file — all consumers are order-free folds),
    drops NULL / out-of-range split values like the filters did, and
    still produces a 0-row placeholder file for an empty split (the
    trigger count must not depend on the data)."""
    import glob

    import __spark_entry__ as E

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "event_type", "user_id")
        # exercise the NULL-split corner the robustness corpora carry
        .withColumn(
            "event_id",
            F.when(F.col("event_id") % 97 == 0, F.lit(None)).otherwise(
                F.col("event_id")
            ),
        )
    )
    feed = str(tmp_path / "feed")
    import os

    os.makedirs(feed)
    E._stage_split_feed(ev, F.col("event_id") % 2, [0, 1], feed)
    files = sorted(glob.glob(f"{feed}/*.parquet"))
    assert [os.path.basename(p) for p in files] == ["0000.parquet", "0001.parquet"]
    for i, v in enumerate([0, 1]):
        got = sorted(
            tuple(r) for r in spark.read.parquet(files[i]).collect()
        )
        want = sorted(
            tuple(r)
            for r in ev.filter(F.col("event_id") % 2 == v).collect()
        )
        assert got == want, f"split {v}: row set differs from filtered write"
        # schema (minus the split helper column) preserved
        assert spark.read.parquet(files[i]).columns == [
            "event_id", "event_type", "user_id",
        ]

    # empty split -> placeholder file with the right schema, 0 rows
    feed2 = str(tmp_path / "feed2")
    os.makedirs(feed2)
    E._stage_split_feed(
        ev.filter(F.col("event_id") % 2 == 0), F.col("event_id") % 2, [0, 1], feed2
    )
    empt = spark.read.parquet(f"{feed2}/0001.parquet")
    assert empt.count() == 0
    assert empt.columns == ["event_id", "event_type", "user_id"]


def test_stream_agg_maintain_running_query_equals_the_drain(spark, tmp_path):
    """``available_now=False`` returns a running query; after
    ``processAllAvailable()`` and ``stop()`` its state table equals the
    one an ``availableNow`` drain of the same feed leaves."""
    import glob as g
    import shutil
    import time as _t
    from decimal import Decimal

    from asakusafw_spark_spark.streaming import stream_agg_maintain

    src = tmp_path / "feed"
    src.mkdir()
    batches = [[("a", 10.0), ("b", 5.0)], [("a", 1.0), ("c", 7.0)]]
    for i, rows in enumerate(batches):
        stage = tmp_path / f"s{i}"
        spark.createDataFrame(rows, "g string, v double").coalesce(
            1
        ).write.parquet(str(stage))
        shutil.copy(g.glob(f"{stage}/part-*.parquet")[0], src / f"{i:04d}.parquet")
        _t.sleep(1.1)

    def run(name, available_now):
        stream = (
            spark.readStream.schema("g string, v double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        return stream_agg_maintain(
            stream, str(tmp_path / name), "g", {"sum_v": "v"},
            str(tmp_path / f"ck_{name}"), query_name=f"t_{name}",
            available_now=available_now,
        )

    run("drained", True)
    q = run("live", False)
    try:
        assert q.isActive
        q.processAllAvailable()
    finally:
        q.stop()
    assert not q.isActive

    def state(name):
        return sorted(
            (r["g"], r["n"], r["sum_v"])
            for r in spark.read.parquet(str(tmp_path / name)).collect()
        )

    assert state("live") == state("drained")
    assert state("live") == [
        ("a", 2, Decimal("11.000000")), ("b", 1, Decimal("5.000000")),
        ("c", 1, Decimal("7.000000")),
    ]
