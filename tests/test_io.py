"""Direct I/O tests: format roundtrips, output pattern grammar, grouped
writes, two-phase commit (reference OutputPatternGeneratorSpec /
TransactionManagerSpec patterns)."""

import os

import pytest
from pyspark.sql import functions as F

from asakusafw_spark_spark.sources import (
    direct_input,
    write_flat,
    write_grouped,
    OutputPattern,
    TransactionalOutput,
)


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


@pytest.mark.parametrize("fmt", ["parquet", "orc", "csv", "tsv", "json"])
def test_roundtrip_formats(spark, orders, tmp_path, fmt):
    sub = orders.select("o_orderkey", "o_orderstatus", "o_totalprice").limit(100)
    out = str(tmp_path / fmt)
    write_flat(sub, out, format=fmt)
    back = direct_input(spark, out, format=fmt, schema=sub.schema)
    assert back.count() == 100
    assert {r.o_orderkey for r in back.collect()} == {r.o_orderkey for r in sub.collect()}


def test_direct_input_requires_schema_for_csv(spark, tmp_path):
    with pytest.raises(ValueError, match="schema"):
        direct_input(spark, str(tmp_path), format="csv")


def test_direct_input_glob(spark, orders, tmp_path):
    a = orders.limit(10)
    write_flat(a, str(tmp_path / "d1"), format="parquet")
    write_flat(a, str(tmp_path / "d2"), format="parquet")
    back = direct_input(spark, str(tmp_path / "d*"), format="parquet")
    assert back.count() == 20


def test_pattern_fragments(spark):
    df = spark.createDataFrame(
        [(7, "x", 3.5)], "num int, name string, val double"
    ).withColumn("d", F.to_date(F.lit("2024-03-09")))
    col = OutputPattern("pre/{name}/n={num:0000}/v={val:00.00}/{d:yyyy-MM}/f.csv").column(df)
    assert df.select(col.alias("p")).first().p == "pre/x/n=0007/v=03.50/2024-03/f.csv"


def test_pattern_random_bucket_in_range(spark):
    df = spark.range(200)
    col = OutputPattern("b[2..5]", seed=1).column(df)
    vals = {r.p for r in df.select(col.alias("p")).collect()}
    assert vals <= {"b2", "b3", "b4", "b5"}
    assert len(vals) > 1


def test_pattern_unknown_property_raises(spark):
    df = spark.range(1)
    with pytest.raises(ValueError, match="nope"):
        OutputPattern("{nope}").column(df)


def test_write_grouped_one_file_per_path_sorted(spark, orders, tmp_path):
    base = str(tmp_path / "grouped")
    sub = orders.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    written = write_grouped(
        sub,
        base,
        "month={o_orderdate:yyyy-MM}/orders.csv",
        ordering=[("o_orderkey", "asc")],
        format="csv",
    )
    assert written and all(w.endswith("orders.csv") for w in written)
    # one file per distinct month, exact naming
    months = sub.select(F.date_format("o_orderdate", "yyyy-MM").alias("m")).distinct().count()
    assert len(written) == months
    # contents sorted by o_orderkey
    one = os.path.join(base, written[0])
    with open(one) as f:
        keys = [int(line.split(",")[0]) for line in f.readlines()[1:]]
    assert keys == sorted(keys)
    # total row preservation
    total = sum(
        len(open(os.path.join(base, w)).readlines()) - 1 for w in written
    )
    assert total == sub.count()


def test_write_grouped_rejects_escaping_paths(spark, tmp_path):
    df = spark.createDataFrame([("../evil",)], "p string")
    with pytest.raises(ValueError, match="escapes"):
        write_grouped(df, str(tmp_path / "g"), "{p}/f.csv", format="csv")


def test_transactional_output_commit(spark, orders, tmp_path):
    base = str(tmp_path / "tx")
    with TransactionalOutput(base) as tx:
        tx.prepare("orders_small", orders.limit(5))
        tx.prepare("orders_big", orders.limit(50))
    assert os.path.exists(os.path.join(base, "_TRANSACTION_SUCCESS"))
    assert spark.read.parquet(os.path.join(base, "orders_small")).count() == 5
    assert spark.read.parquet(os.path.join(base, "orders_big")).count() == 50
    assert not os.path.exists(os.path.join(base, f"_tx_{tx.tx_id}"))


def test_write_grouped_hadoop_fs_uri(spark, orders, tmp_path):
    """Promotion runs through Hadoop FileSystem: an explicit ``file:`` URI
    exercises the exact code path a ``hdfs://``/``s3a://`` URI would."""
    base_uri = f"file:{tmp_path}/grouped_uri"
    sub = orders.select("o_orderkey", "o_orderstatus").limit(200)
    written = write_grouped(
        sub, base_uri, "st={o_orderstatus}/orders.csv",
        ordering=[("o_orderkey", "asc")], format="csv",
    )
    statuses = {r.o_orderstatus for r in sub.select("o_orderstatus").distinct().collect()}
    assert {w.split("/")[0] for w in written} == {f"st={s}" for s in statuses}
    local = os.path.join(str(tmp_path), "grouped_uri", written[0])
    with open(local) as f:
        keys = [int(line.split(",")[0]) for line in f.readlines()[1:]]
    assert keys == sorted(keys)
    # staging cleaned up
    assert not [d for d in os.listdir(f"{tmp_path}/grouped_uri") if d.startswith("_staging")]


def test_transactional_output_hadoop_fs_uri(spark, orders, tmp_path):
    base_uri = f"file:{tmp_path}/tx_uri"
    with TransactionalOutput(base_uri) as tx:
        tx.prepare("ds", orders.limit(7))
    local = os.path.join(str(tmp_path), "tx_uri")
    assert os.path.exists(os.path.join(local, "_TRANSACTION_SUCCESS"))
    assert open(os.path.join(local, "_TRANSACTION_SUCCESS")).read().strip() == tx.tx_id
    assert spark.read.parquet(os.path.join(local, "ds")).count() == 7
    assert not os.path.exists(os.path.join(local, f"_tx_{tx.tx_id}"))


def test_transactional_output_abort_leaves_nothing(spark, orders, tmp_path):
    base = str(tmp_path / "tx2")
    try:
        with TransactionalOutput(base) as tx:
            tx.prepare("orders_small", orders.limit(5))
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert not os.path.exists(os.path.join(base, "_TRANSACTION_SUCCESS"))
    assert not os.path.exists(os.path.join(base, "orders_small"))


def test_transactional_reserve_is_linear_and_rejects_duplicates(tmp_path):
    """Reserving a name is a set lookup: 10 000 rounds of an iterative
    transaction reserve in well under a second (a scan of every earlier
    name took 1.66 s), and a duplicate is still caught at the end."""
    import time

    tx = TransactionalOutput(str(tmp_path / "tx_many"))
    t = time.perf_counter()
    for i in range(10_000):
        tx._reserve(f"rounds/r={i}")
    assert time.perf_counter() - t < 0.5
    with pytest.raises(ValueError, match="already staged"):
        tx._reserve("rounds/r=9999")


def test_transactional_failed_prepare_frees_its_name(spark, orders, tmp_path):
    base = str(tmp_path / "tx_retry")
    with TransactionalOutput(base) as tx:
        with pytest.raises(Exception):
            tx.prepare("ds", orders.limit(5), format="no_such_format")
        tx.prepare("ds", orders.limit(5))
    assert spark.read.parquet(os.path.join(base, "ds")).count() == 5


def test_transactional_recommit_failure_retracts_old_marker(spark, orders, tmp_path, monkeypatch):
    """A recommit into a committed base that fails mid-promotion must not
    leave the earlier transaction's marker vouching for a torn mix."""
    from asakusafw_spark_spark.sources.write import HadoopFs

    base = str(tmp_path / "tx_re")
    marker = os.path.join(base, "_TRANSACTION_SUCCESS")
    with TransactionalOutput(base, tx_id="run100") as tx:
        tx.prepare("a", orders.limit(5))
        tx.prepare("b", orders.limit(6))
    assert open(marker).read().strip() == "run100"

    rename = HadoopFs.rename

    def failing_rename(self, src, dst):
        if dst.endswith("/b"):
            raise IOError(f"injected rename failure: {src} -> {dst}")
        rename(self, src, dst)

    monkeypatch.setattr(HadoopFs, "rename", failing_rename)
    with pytest.raises(IOError, match="injected"):
        with TransactionalOutput(base, tx_id="run200") as tx:
            tx.prepare("a", orders.limit(7))
            tx.prepare("b", orders.limit(8))
    assert not os.path.exists(marker)


def test_bucketed_join_has_no_exchange(spark, orders, tmp_path):
    from asakusafw_spark_spark.sources import write_bucketed

    left = orders.select("o_orderkey", "o_totalprice").limit(1000)
    right = orders.select("o_orderkey", "o_orderstatus").limit(1000)
    write_bucketed(
        left, "t_bleft", ["o_orderkey"], 4,
        sort_by=["o_orderkey"], path=str(tmp_path / "bleft"),
    )
    write_bucketed(
        right, "t_bright", ["o_orderkey"], 4,
        sort_by=["o_orderkey"], path=str(tmp_path / "bright"),
    )
    try:
        l, r = spark.table("t_bleft"), spark.table("t_bright")
        # merge hint: small test tables would auto-broadcast, hiding the
        # property under test (co-located sort-merge without shuffle)
        joined = l.hint("merge").join(r, "o_orderkey")
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "SortMergeJoin" in plan
        # co-located: neither side repartitions
        assert "hashpartitioning" not in plan, plan
        assert joined.count() == 1000
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bleft")
        spark.sql("DROP TABLE IF EXISTS t_bright")


def test_hadoop_input_arbitrary_format_passthrough(spark, orders, tmp_path):
    from asakusafw_spark_spark.sources import hadoop_input

    # 'text' through the unvalidated escape hatch (any DataSource name goes)
    path = str(tmp_path / "lines")
    orders.select(F.col("o_orderkey").cast("string").alias("value")).limit(
        10
    ).write.text(path)
    back = hadoop_input(spark, "text", path)
    assert back.count() == 10


def test_merge_upsert_full_swap(spark, tmp_path):
    from asakusafw_spark_spark.sources.write import merge_upsert

    target = str(tmp_path / "dim")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, v double",
    )
    merge_upsert(target, base, "k")
    upd = spark.createDataFrame(
        [(2, "b2", 25.0, False), (3, None, 0.0, True), (4, "d", 40.0, False)],
        "k long, name string, v double, dead boolean",
    )
    merge_upsert(target, upd, "k", delete_col="dead")
    got = {r.k: (r.name, r.v) for r in spark.read.parquet(target).collect()}
    # 1 untouched, 2 replaced, 3 tombstoned, 4 inserted
    assert got == {1: ("a", 10.0), 2: ("b2", 25.0), 4: ("d", 40.0)}


def test_merge_upsert_partitioned_touches_only_affected(spark, tmp_path):
    import glob as g

    from asakusafw_spark_spark.sources.write import merge_upsert

    target = str(tmp_path / "facts")
    base = spark.createDataFrame(
        [(1, "2024-01", 1.0), (2, "2024-01", 2.0), (3, "2024-02", 3.0),
         (4, "2024-03", 4.0)],
        "k long, day string, v double",
    )
    merge_upsert(target, base, "k", partition_by="day")
    untouched_before = sorted(g.glob(f"{target}/day=2024-03/*.parquet"))
    upd = spark.createDataFrame(
        [(2, "2024-01", 2.5), (5, "2024-02", 5.0), (6, "2024-04", 6.0)],
        "k long, day string, v double",
    )
    merge_upsert(target, upd, "k", partition_by="day")
    # untouched partition: same physical files (no rewrite)
    assert sorted(g.glob(f"{target}/day=2024-03/*.parquet")) == untouched_before
    got = {r.k: (r.day, r.v) for r in spark.read.parquet(target).collect()}
    assert got == {
        1: ("2024-01", 1.0), 2: ("2024-01", 2.5), 3: ("2024-02", 3.0),
        4: ("2024-03", 4.0), 5: ("2024-02", 5.0), 6: ("2024-04", 6.0),
    }


def test_merge_upsert_fully_deleted_partition_removed(spark, tmp_path):
    import os

    from asakusafw_spark_spark.sources.write import merge_upsert

    target = str(tmp_path / "facts")
    base = spark.createDataFrame(
        [(1, "2024-01", 1.0), (2, "2024-01", 2.0), (3, "2024-02", 3.0)],
        "k long, day string, v double",
    )
    merge_upsert(target, base, "k", partition_by="day")
    # delete EVERY row of day=2024-01, insert nothing for it — the staged
    # output has no dir for that partition, so promotion must REMOVE it
    dels = spark.createDataFrame(
        [(1, "2024-01", 0.0, True), (2, "2024-01", 0.0, True)],
        "k long, day string, v double, dead boolean",
    )
    merge_upsert(target, dels, "k", partition_by="day", delete_col="dead")
    assert not os.path.exists(f"{target}/day=2024-01")
    got = {r.k: (r.day, r.v) for r in spark.read.parquet(target).collect()}
    assert got == {3: ("2024-02", 3.0)}


def test_merge_upsert_heals_parked_partition_before_merge(spark, tmp_path):
    """Simulated mid-swap crash: the partition is parked under _old_ and
    missing live; the next merge touching it must restore it BEFORE
    computing survivors (otherwise the crashed partition's un-updated
    rows are silently dropped)."""
    import os
    import shutil

    from asakusafw_spark_spark.sources.write import merge_upsert

    target = str(tmp_path / "facts")
    base = spark.createDataFrame(
        [(1, "2024-01", 1.0), (2, "2024-01", 2.0), (3, "2024-02", 3.0)],
        "k long, day string, v double",
    )
    merge_upsert(target, base, "k", partition_by="day")
    # simulate the crash window: live dir parked, nothing in its place
    os.makedirs(f"{target}__parked", exist_ok=True)
    shutil.move(f"{target}/day=2024-01", f"{target}__parked/day=2024-01")
    assert not os.path.exists(f"{target}/day=2024-01")
    # parked data lives OUTSIDE the dataset tree → readers are unaffected
    assert spark.read.parquet(target).count() == 1

    upd = spark.createDataFrame(
        [(2, "2024-01", 2.5)], "k long, day string, v double"
    )
    merge_upsert(target, upd, "k", partition_by="day")
    got = {r.k: (r.day, r.v) for r in spark.read.parquet(target).collect()}
    # k=1 (the crashed partition's untouched row) survived the healing
    assert got == {1: ("2024-01", 1.0), 2: ("2024-01", 2.5), 3: ("2024-02", 3.0)}
    assert not os.path.exists(f"{target}__parked/day=2024-01")


def test_merge_upsert_restores_dataset_after_crashed_swap(spark, tmp_path):
    """Simulated crash between the two dataset renames: target missing,
    data parked under __old_*. A replayed merge must restore and merge,
    NOT treat the batch as an initial load."""
    import os
    import shutil

    from asakusafw_spark_spark.sources.write import merge_upsert

    target = str(tmp_path / "dim")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k long, name string, v double"
    )
    merge_upsert(target, base, "k")
    shutil.move(target, f"{target}__old_123")  # the crash window state

    upd = spark.createDataFrame([(2, "b2", 25.0)], "k long, name string, v double")
    merge_upsert(target, upd, "k")
    got = {r.k: (r.name, r.v) for r in spark.read.parquet(target).collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 25.0)}  # k=1 NOT lost
    assert not os.path.exists(f"{target}__old_123")


def test_recover_merge_janitor(spark, tmp_path):
    import os
    import shutil

    from asakusafw_spark_spark.sources.write import merge_upsert, recover_merge

    target = str(tmp_path / "facts")
    base = spark.createDataFrame(
        [(1, "2024-01", 1.0), (3, "2024-02", 3.0)],
        "k long, day string, v double",
    )
    merge_upsert(target, base, "k", partition_by="day")
    os.makedirs(f"{target}__parked", exist_ok=True)
    shutil.move(f"{target}/day=2024-01", f"{target}__parked/day=2024-01")
    actions = recover_merge(spark, target, partition_depth=1)
    assert any("restored" in a for a in actions)
    assert os.path.exists(f"{target}/day=2024-01")
    assert not os.path.exists(f"{target}__parked")
    got = {r.k for r in spark.read.parquet(target).collect()}
    assert got == {1, 3}


def test_merge_upsert_null_partition_value(spark, tmp_path):
    # A NULL partition value is a real partition (written as
    # __HIVE_DEFAULT_PARTITION__).  The merge must (a) keep the null
    # partition's non-updated rows as survivors (null-safe semi-join —
    # plain equality would drop them on the swap), (b) swap/heal/delete
    # the right directory (None must map to the Hive default dir, not a
    # literal 'None' path), including full-delete removal.
    import os

    from asakusafw_spark_spark.sources.write import merge_upsert

    target = str(tmp_path / "facts")
    base = spark.createDataFrame(
        [(1, None, 1.0), (2, None, 2.0), (3, "2024-02", 3.0)],
        "k long, day string, v double",
    )
    merge_upsert(target, base, "k", partition_by="day")
    null_dir = f"{target}/day=__HIVE_DEFAULT_PARTITION__"
    assert os.path.isdir(null_dir)

    # update one key in the null partition: the other null-partition key
    # must survive
    upd = spark.createDataFrame([(2, None, 2.5)], "k long, day string, v double")
    merge_upsert(target, upd, "k", partition_by="day")
    got = {r.k: (r.day, r.v) for r in spark.read.parquet(target).collect()}
    assert got == {1: (None, 1.0), 2: (None, 2.5), 3: ("2024-02", 3.0)}
    assert not os.path.exists(f"{target}/day=None")

    # delete every remaining null-partition key: the Hive default dir
    # itself must be removed (emptied-partition path, not 'day=None')
    dels = spark.createDataFrame(
        [(1, None, 0.0, True), (2, None, 0.0, True)],
        "k long, day string, v double, dead boolean",
    )
    merge_upsert(target, dels, "k", partition_by="day", delete_col="dead")
    got = {r.k: (r.day, r.v) for r in spark.read.parquet(target).collect()}
    assert got == {3: ("2024-02", 3.0)}
    assert not os.path.exists(null_dir)


def test_write_flat_delete_patterns(spark, tmp_path):
    # reference flat-output "delete patterns": clear matching stale
    # resources before writing, without dropping the rest of the dataset
    import glob as g

    from asakusafw_spark_spark.sources.write import write_flat

    out = str(tmp_path / "mixed")
    a = spark.createDataFrame([(1,)], "v long")
    write_flat(a, out, format="csv", mode="append")
    # rename the first write's parts to a recognizable stale slice
    import os

    for i, f in enumerate(sorted(g.glob(f"{out}/part-*.csv"))):
        os.rename(f, f"{out}/stale-{i:05d}.csv")
    write_flat(a, out, format="csv", mode="append")
    assert g.glob(f"{out}/stale-*.csv") and g.glob(f"{out}/part-*.csv")

    # replace ONLY the stale slice
    b = spark.createDataFrame([(2,)], "v long")
    write_flat(b, out, format="csv", mode="append", delete_patterns=["stale-*.csv"])
    assert not g.glob(f"{out}/stale-*.csv")
    vals = sorted(
        int(r.v)
        for r in spark.read.schema("v long")
        .option("header", True)
        .csv(out)
        .collect()
    )
    assert vals == [1, 2]

    with pytest.raises(ValueError, match="escapes"):
        write_flat(b, out, delete_patterns=["../evil*"])


def test_compact_files_reduces_count_and_preserves_content(spark, sf_dir, tmp_path):
    from asakusafw_spark_spark.sources import compact_files

    target = str(tmp_path / "frag")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # fragment: many tiny appends, like a micro-batch sink would leave
    for i in range(6):
        docs.filter(F.col("doc_id") % 6 == i).coalesce(2).write.mode(
            "append"
        ).parquet(target)
    import glob as g

    before = len(g.glob(f"{target}/part-*.parquet"))
    want = sorted(r["doc_id"] for r in spark.read.parquet(target).collect())

    n = compact_files(spark, target, target_file_bytes=1 << 30)
    after = len(g.glob(f"{target}/part-*.parquet"))
    assert n == 1 and after == 1 and before > after
    got = sorted(r["doc_id"] for r in spark.read.parquet(target).collect())
    assert got == want
    # no debris left behind
    assert not g.glob(f"{target}__old_*") and not g.glob(f"{target}__compact_*")


def test_write_zordered_preserves_content_and_clusters(spark, sf_dir, tmp_path):
    """Z-order write is content-lossless, and per-file min/max ranges on
    EVERY clustered column are tight: the summed fraction of the value
    domain covered per file is well under 1.0 (a random/unsorted layout
    covers ~the whole domain in every file), so parquet row-group
    pruning can skip files for predicates on either column."""
    import pyarrow.parquet as pq

    from asakusafw_spark_spark.sources import write_zordered

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )
    out = str(tmp_path / "zli")
    write_zordered(li, out, ["l_orderkey", "l_extendedprice"], bits=4, num_files=8)

    back = spark.read.parquet(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, li.collect()))

    import glob as _glob

    files = sorted(_glob.glob(f"{out}/part-*.parquet"))
    assert len(files) > 1
    lo_k, hi_k = (
        li.agg(F.min("l_orderkey"), F.max("l_orderkey")).first()
    )
    lo_p, hi_p = (
        li.agg(F.min("l_extendedprice"), F.max("l_extendedprice")).first()
    )

    def coverage(col, lo, hi):
        total = 0.0
        for f in files:
            md = pq.read_metadata(f)
            fmin, fmax = None, None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        mn, mx = c.statistics.min, c.statistics.max
                        fmin = mn if fmin is None else min(fmin, mn)
                        fmax = mx if fmax is None else max(fmax, mx)
            total += (fmax - fmin) / (hi - lo)
        return total / len(files)

    # with 4 bits × 2 cols over 8 files, each file spans a small
    # fraction of each column's domain.  Compare against an UNSORTED
    # baseline layout rather than an absolute bound —
    # repartitionByRange's boundary sampling is seeded from the RDD id,
    # so exact file splits jitter run to run.
    z_k = coverage("l_orderkey", lo_k, hi_k)
    z_p = coverage("l_extendedprice", lo_p, hi_p)

    base_dir = str(tmp_path / "unsorted")
    li.repartition(8).write.parquet(base_dir)
    base_files = sorted(_glob.glob(f"{base_dir}/part-*.parquet"))
    files, saved = base_files, files
    b_k = coverage("l_orderkey", lo_k, hi_k)
    b_p = coverage("l_extendedprice", lo_p, hi_p)
    files = saved
    assert z_k < 0.75 * b_k, (z_k, b_k)
    assert z_p < 0.75 * b_p, (z_p, b_p)
    assert z_k < 0.7 and z_p < 0.7  # and small in absolute terms too

    # atomic re-cluster over an existing dataset (park-and-swap path)
    write_zordered(back, out, ["l_partkey"], bits=4, num_files=4)
    again = spark.read.parquet(out)
    assert again.count() == li.count()


def test_merge_upsert_evolve_schema(spark, tmp_path):
    """Additive schema evolution: updates may add columns (existing rows
    backfill NULL) and omit columns (inserts carry NULL); type conflicts
    refuse; the partitioned path reads its own mixed-schema state with
    mergeSchema."""
    import pytest as _pytest

    from asakusafw_spark_spark.sources.write import merge_upsert

    target = str(tmp_path / "d")
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k long, name string, v double"
    ).write.parquet(target)

    # add a column + omit one
    upd = spark.createDataFrame(
        [(2, "b2", "web"), (3, "c", "app")], "k long, name string, channel string"
    )
    merge_upsert(target, upd, "k", evolve_schema=True)
    rows = {r["k"]: r for r in spark.read.parquet(target).collect()}
    assert rows[1]["channel"] is None and rows[1]["v"] == 1.0
    assert rows[2]["channel"] == "web" and rows[2]["v"] is None  # omitted on update
    assert rows[3]["channel"] == "app"

    # without the flag, mismatched schemas still refuse
    with _pytest.raises(Exception):
        merge_upsert(target, upd.withColumn("extra", F.lit(1)), "k")

    # type conflict refuses loudly
    bad = spark.createDataFrame([(4, 5, "x")], "k long, name int, channel string")
    with _pytest.raises(ValueError, match="type conflicts"):
        merge_upsert(target, bad, "k", evolve_schema=True)

    # partitioned: untouched partition keeps old files; evolved read heals
    t2 = str(tmp_path / "p")
    spark.createDataFrame(
        [(1, "x", 0), (2, "y", 1)], "k long, s string, b int"
    ).write.partitionBy("b").parquet(t2)
    up2 = spark.createDataFrame([(2, "y2", 1, 9.5)], "k long, s string, b int, score double")
    merge_upsert(t2, up2, "k", partition_by="b", evolve_schema=True)
    back = spark.read.option("mergeSchema", "true").parquet(t2)
    got = {r["k"]: r for r in back.collect()}
    assert got[2]["score"] == 9.5 and got[1]["score"] is None


def test_dataset_manifest_footer_stats(spark, sf_dir, tmp_path):
    """Manifest rows come from footers: one row per file, num_rows sums
    to the dataset count, sizes are real, partitioned layouts list
    relative paths."""
    from asakusafw_spark_spark.sources import dataset_manifest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "m")
    docs.repartition(4).write.parquet(out)
    m = dataset_manifest(spark, out).collect()
    assert len(m) == 4
    assert sum(r["num_rows"] for r in m) == docs.count()
    assert all(r["size_bytes"] > 0 and r["num_row_groups"] >= 1 for r in m)

    out2 = str(tmp_path / "mp")
    docs.write.partitionBy("lang").parquet(out2)
    m2 = dataset_manifest(spark, out2).collect()
    assert sum(r["num_rows"] for r in m2) == docs.count()
    assert all("lang=" in r["file_name"] for r in m2)


def test_write_zordered_long_interleave_and_overflow_guard(spark, tmp_path):
    """Morton interleave runs in LONG arithmetic: 6 bits x 6 columns
    uses bit positions up to 35 (would wrap in int32 and silently
    degrade clustering); content survives.  bits*cols > 63 raises."""
    import pytest as _pytest

    from asakusafw_spark_spark.sources import write_zordered

    df = spark.range(512).select(
        *[(F.col("id") * (i + 1) % 97).alias(f"c{i}") for i in range(6)]
    )
    out = str(tmp_path / "z6")
    write_zordered(df, out, [f"c{i}" for i in range(6)], bits=6, num_files=4)
    back = spark.read.parquet(out)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.collect())
    )

    with _pytest.raises(ValueError, match="exceeds 63"):
        write_zordered(df, str(tmp_path / "z_bad"),
                       [f"c{i}" for i in range(6)], bits=11)


def test_hadoop_input_newapi_arbitrary_inputformat(spark, tmp_path):
    """newAPIHadoopFile door: read a raw text file through an actual
    Hadoop InputFormat CLASS (TextInputFormat) with the default
    (offset, line) schema, then with a custom (k, v) -> Row adapter;
    comma-joined multi-path input unions the splits."""
    from asakusafw_spark_spark.sources import hadoop_input_newapi

    p1 = tmp_path / "a.txt"
    p2 = tmp_path / "b.txt"
    p1.write_text("x|1\ny|2\n")
    p2.write_text("z|3\n")
    fmt = "org.apache.hadoop.mapreduce.lib.input.TextInputFormat"

    raw = hadoop_input_newapi(spark, fmt, str(p1))
    rows = sorted((r["key"], r["value"]) for r in raw.collect())
    assert rows == [(0, "x|1"), (4, "y|2")]  # byte offsets as keys

    both = hadoop_input_newapi(
        spark, fmt, [str(p1), str(p2)],
        schema="name string, n bigint",
        to_row=lambda k, v: (v.split("|")[0], int(v.split("|")[1])),
    )
    assert sorted(map(tuple, both.collect())) == [("x", 1), ("y", 2), ("z", 3)]


def test_partsupp_step_clamp_keeps_suppkeys_distinct_and_duck_parity(spark):
    """Regression band for two historical PK violations: the original
    stride formula collided all four suppkeys when the stride hit 0
    mod S (S=40, p in [1200, 1239]), and its zero-clamp still collided
    pairwise whenever d*stride = 0 mod S for d < 4 (hypothesis found
    S=4, stride=2).  The offset formula (p + p//S + (i*S)//4) % S is
    unconditionally distinct for S >= 4 — asserted here on the old
    collision band, and the DuckDB oracle CTE must derive the
    IDENTICAL relation (all-integer arithmetic on both engines)."""
    import duckdb
    import pandas as pd

    from asakusafw_spark_spark.sources.tpch import (
        partsupp_cte, synthesize_partsupp,
    )

    part_pd = pd.DataFrame({"p_partkey": list(range(1195, 1245))})
    supp_pd = pd.DataFrame({"s_suppkey": list(range(40))})
    part = spark.createDataFrame(part_pd)
    supplier = spark.createDataFrame(supp_pd)

    ps = synthesize_partsupp(part, supplier).toPandas().sort_values(
        ["ps_partkey", "ps_suppkey"]
    ).reset_index(drop=True)
    # PK holds for every part, including the collision band
    assert (
        ps.groupby("ps_partkey")["ps_suppkey"].nunique() == 4
    ).all()

    con = duckdb.connect()
    con.register("part", part_pd)
    con.register("supplier", supp_pd)
    oracle = con.sql(
        f"WITH {partsupp_cte()} SELECT * FROM partsupp "
        "ORDER BY ps_partkey, ps_suppkey"
    ).df().reset_index(drop=True)
    pd.testing.assert_frame_equal(
        ps.astype({"ps_availqty": "int64"}),
        oracle.astype(
            {"ps_partkey": "int64", "ps_suppkey": "int64",
             "ps_availqty": "int64"}
        ),
        check_dtype=False,
    )


def test_synthesize_partsupp_honors_given_s_cnt(spark):
    """Passing s_cnt must short-circuit the supplier count() probe —
    the hook _partsupp's per-sweep memoization relies on."""
    from asakusafw_spark_spark.sources.tpch import synthesize_partsupp

    part = spark.createDataFrame([(1,), (2,)], "p_partkey long")

    class _NoCount:
        def count(self):
            raise AssertionError("s_cnt given — count() must not fire")

    ps = synthesize_partsupp(part, _NoCount(), s_cnt=8)
    assert ps.count() == 8  # 2 parts x 4 links


def test_partsupp_sweep_fires_one_supplier_count(spark, sf_dir, monkeypatch):
    """One sweep building all five partsupp composites must probe the
    supplier count ONCE (VERDICT r06 Next #4), not once per query."""
    import __spark_entry__ as entry

    # patch the CONCRETE class (pyspark 4 splits classic/connect — the
    # abstract pyspark.sql.DataFrame.count is overridden, so patching it
    # would intercept nothing)
    cls = type(spark.range(1))
    calls = []
    orig = cls.count

    def counting(self):
        calls.append(1)
        return orig(self)

    monkeypatch.setattr(cls, "count", counting)
    entry._SCNT_MEMO.clear()
    try:
        for q in (
            entry.q2_min_cost_supplier,
            entry.q9_product_type_profit,
            entry.q11_important_stock,
            entry.q16_parts_supplier_relationship,
            entry.q20_potential_promotion,
        ):
            q(spark, sf_dir)  # build only — no action fired here
        assert len(calls) == 1
    finally:
        entry._SCNT_MEMO.clear()


def test_hadoop_output_newapi_roundtrips_through_text_outputformat(
    spark, tmp_path
):
    """The arbitrary-OutputFormat door (NewHadoopOutput.scala:84): rows
    written through an actual mapreduce TextOutputFormat class — the
    reference node's (NullWritable, record) shape — must read back
    losslessly through the InputFormat door."""
    from pyspark.sql import functions as F

    from asakusafw_spark_spark.sources import (
        hadoop_input_newapi, hadoop_output_newapi,
    )

    df = spark.createDataFrame(
        [(1, "alpha", None), (2, "beta", 7), (3, "g|mma", 9)],
        "id long, name string, opt int",
    )
    out = str(tmp_path / "text_out")
    hadoop_output_newapi(df, out)  # default: tab-join, nulls empty
    back = hadoop_input_newapi(
        spark, "org.apache.hadoop.mapreduce.lib.input.TextInputFormat", out
    )
    parts = F.split(F.col("value"), "\t")
    got = {
        (r["id"], r["name"], r["opt"])
        for r in back.select(
            parts.getItem(0).cast("long").alias("id"),
            parts.getItem(1).alias("name"),
            F.nullif(parts.getItem(2), F.lit("")).cast("int").alias("opt"),
        ).collect()
    }
    assert got == {(1, "alpha", None), (2, "beta", 7), (3, "g|mma", 9)}

    # custom to_kv: real (key, value) pairs through TextOutputFormat
    out2 = str(tmp_path / "kv_out")
    hadoop_output_newapi(
        df.select("id", "name"), out2,
        key_class="org.apache.hadoop.io.LongWritable",
        to_kv=lambda row: (row["id"] * 10, row["name"]),
    )
    back2 = hadoop_input_newapi(
        spark, "org.apache.hadoop.mapreduce.lib.input.TextInputFormat", out2
    )
    kv = F.split(F.col("value"), "\t")
    got2 = {
        (r["k"], r["v"])
        for r in back2.select(
            kv.getItem(0).cast("long").alias("k"), kv.getItem(1).alias("v")
        ).collect()
    }
    assert got2 == {(10, "alpha"), (20, "beta"), (30, "g|mma")}

    # partition preservation: each input partition -> one part-r file
    import glob as g

    files = g.glob(f"{out}/part-r-*")
    assert len(files) == df.rdd.getNumPartitions()


def test_partsupp_property_pk_and_duck_parity(spark):
    """Property (hypothesis): for ANY supplier count and partkey range,
    the synthesized partsupp (a) keeps the (partkey, suppkey) PK — four
    DISTINCT suppkeys per part, (b) keeps suppkeys in [0, S), and
    (c) derives the IDENTICAL relation in DuckDB's CTE twin —
    the cross-engine contract the five TPC-H composites stand on."""
    import duckdb
    import pandas as pd
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from asakusafw_spark_spark.sources.tpch import (
        partsupp_cte, synthesize_partsupp,
    )

    @settings(
        max_examples=10, deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        s_cnt=st.integers(4, 120),
        p_lo=st.integers(0, 5000),
        n_parts=st.integers(1, 30),
    )
    def check(s_cnt, p_lo, n_parts):
        part_pd = pd.DataFrame({"p_partkey": list(range(p_lo, p_lo + n_parts))})
        supp_pd = pd.DataFrame({"s_suppkey": list(range(s_cnt))})
        ps = (
            synthesize_partsupp(
                spark.createDataFrame(part_pd),
                spark.createDataFrame(supp_pd),
            )
            .toPandas()
            .sort_values(["ps_partkey", "ps_suppkey"])
            .reset_index(drop=True)
        )
        assert (ps.groupby("ps_partkey")["ps_suppkey"].nunique() == 4).all()
        assert ps["ps_suppkey"].between(0, s_cnt - 1).all()
        con = duckdb.connect()
        con.register("part", part_pd)
        con.register("supplier", supp_pd)
        oracle = con.sql(
            f"WITH {partsupp_cte()} SELECT * FROM partsupp "
            "ORDER BY ps_partkey, ps_suppkey"
        ).df().reset_index(drop=True)
        pd.testing.assert_frame_equal(
            ps.astype("int64", errors="ignore"),
            oracle.astype("int64", errors="ignore"),
            check_dtype=False,
        )

    check()


def test_merge_upsert_touched_partition_guard(spark, tmp_path):
    """max_touched_partitions fail-fasts a full-table-churn partitioned
    merge BEFORE collecting (cost model: driver work ∝ touched
    partitions); a compliant merge under the cap proceeds, and the cap
    validates.  The error names the full-rewrite escape hatch."""
    import pytest

    from asakusafw_spark_spark.sources.write import merge_upsert

    target = str(tmp_path / "guard")
    base = spark.createDataFrame(
        [(k, f"p{k % 5}", float(k)) for k in range(10)],
        "k long, part string, v double",
    )
    merge_upsert(target, base, "k", partition_by="part")
    upd = spark.createDataFrame(
        [(k, f"p{k % 5}", float(k) + 0.5) for k in range(10)],
        "k long, part string, v double",
    )
    with pytest.raises(ValueError, match="full-rewrite"):
        merge_upsert(
            target, upd, "k", partition_by="part", max_touched_partitions=3
        )
    # guard refused before any mutation: state unchanged
    got = {r.k: r.v for r in spark.read.parquet(target).collect()}
    assert got == {k: float(k) for k in range(10)}
    merge_upsert(
        target, upd, "k", partition_by="part", max_touched_partitions=5
    )
    got = {r.k: r.v for r in spark.read.parquet(target).collect()}
    assert got == {k: float(k) + 0.5 for k in range(10)}
    with pytest.raises(ValueError, match="must be >= 1"):
        merge_upsert(
            target, upd, "k", partition_by="part", max_touched_partitions=0
        )


def test_output_counters_flat_grouped_transactional(spark, tmp_path):
    """OutputCounters parity (reference listener/OutputCounters.scala):
    write_flat / write_grouped / TransactionalOutput.prepare each report
    exact record counts (via df.observe — no extra job) plus byte/file
    counts from the written path; FlowGraph.run instruments every sink
    and logs at job end; duplicate sink names refuse."""
    import pytest

    from asakusafw_spark_spark import OutputCounters
    from asakusafw_spark_spark.sources.write import (
        TransactionalOutput,
        write_flat,
        write_grouped,
    )

    df = spark.createDataFrame(
        [(k, f"g{k % 3}", float(k)) for k in range(20)],
        "k long, g string, v double",
    )

    c = OutputCounters()
    write_flat(df, str(tmp_path / "flat"), counters=c, sink_name="flat")
    write_grouped(
        df, str(tmp_path / "grp"), "out-{g}.csv", ordering=[("k", "asc")],
        counters=c, sink_name="grp",
    )
    with TransactionalOutput(str(tmp_path / "tx"), counters=c) as tx:
        tx.prepare("a", df.filter("k < 5"))
        tx.prepare("b", df.filter("k >= 5"))
    rep = c.report()
    assert rep["flat"]["records"] == 20 and rep["flat"]["files"] >= 1
    assert rep["flat"]["bytes"] > 0
    assert rep["grp"]["records"] == 20 and rep["grp"]["files"] == 3
    assert rep["a"]["records"] == 5 and rep["b"]["records"] == 15
    logged = c.log()
    assert logged == rep

    with pytest.raises(ValueError, match="unique"):
        c.observe("flat", df)

    # an observed-but-never-written sink must not hang report()
    c2 = OutputCounters()
    c2.observe("never", df)
    assert "records" not in c2.report().get("never", {})

    # FlowGraph-level wiring: every sink counted, any action shape
    from asakusafw_spark_spark.plans.flow import FlowGraph

    g = FlowGraph()
    g.source("src", lambda s: df)
    g.op("small", "src", lambda s, d: d.filter("k < 8"))
    got = {}
    g.sink("all_rows", "src", lambda d: got.__setitem__("all", d.count()))
    g.sink("small_rows", "small", lambda d: got.__setitem__("small", d.count()))
    c3 = OutputCounters()
    g.run(spark, counters=c3)
    rep3 = c3.report()
    assert rep3["all_rows"]["records"] == 20
    assert rep3["small_rows"]["records"] == 8


def test_output_counters_log_lines(spark, caplog):
    """The job-end summary logs one line per sink with records and
    bytes — the reference listener's log shape."""
    import logging

    from asakusafw_spark_spark import OutputCounters
    from asakusafw_spark_spark.sources.write import write_flat
    import tempfile

    df = spark.range(7).withColumnRenamed("id", "k")
    c = OutputCounters()
    with caplog.at_level(logging.INFO, logger="asakusafw_spark_spark.output"):
        write_flat(
            df, tempfile.mkdtemp(prefix="cnt_") + "/d",
            counters=c, sink_name="result",
        )
        c.log()
    lines = [r.message for r in caplog.records]
    assert any(
        l.startswith("output result: 7 records") and "bytes" in l
        for l in lines
    )


# -- crash healing of datasets rewritten in place ------------------------

_HEAL_FIRST = [(1, 10.0), (2, 20.0)]
_HEAL_SECOND = [(2, 25.0), (3, 30.0)]


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, v double")


def _heal_merge(spark, base, work, rows):
    from asakusafw_spark_spark.sources.write import merge_upsert

    merge_upsert(base, _kv(spark, rows), "k")


def _heal_compact(spark, base, work, rows):
    from asakusafw_spark_spark.sources import compact_files

    if rows is _HEAL_FIRST:
        write_flat(_kv(spark, rows).repartition(2), base)
    else:
        compact_files(spark, base)


def _heal_zorder(spark, base, work, rows):
    from asakusafw_spark_spark.sources import write_zordered

    write_zordered(_kv(spark, rows), base, ["k"], bits=2, num_files=2)


def _heal_stream_agg(spark, base, work, rows):
    import glob
    import shutil

    from asakusafw_spark_spark.streaming import stream_agg_maintain

    feed = work / "feed"
    feed.mkdir(parents=True)
    _kv(spark, rows).coalesce(1).write.parquet(str(work / "stage"))
    shutil.copy(glob.glob(f"{work}/stage/part-*.parquet")[0], feed / "0.parquet")
    stream = spark.readStream.schema("k long, v double").parquet(str(feed))
    stream_agg_maintain(
        stream, base, "k", {"v": "v"}, str(work / "ck"),
        query_name=f"t_heal_{work.name}",
    )


@pytest.fixture
def hadoop_cwd(spark, tmp_path):
    """Resolve relative Hadoop paths (Spark's writers and readers, and
    ``HadoopFs``) against ``tmp_path`` for the test."""
    jvm = spark._jvm
    local = jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark._jsc.hadoopConfiguration()
    )
    prev = local.getWorkingDirectory()
    local.setWorkingDirectory(jvm.org.apache.hadoop.fs.Path(str(tmp_path)))
    try:
        yield tmp_path
    finally:
        local.setWorkingDirectory(prev)


@pytest.mark.parametrize("writer, relative, want", [
    (_heal_merge, False, {1: 10.0, 2: 25.0, 3: 30.0}),
    (_heal_merge, True, {1: 10.0, 2: 25.0, 3: 30.0}),
    (_heal_compact, False, {1: 10.0, 2: 20.0}),
    (_heal_zorder, False, {2: 25.0, 3: 30.0}),
    (_heal_stream_agg, False, {1: 10.0, 2: 45.0, 3: 30.0}),
], ids=["merge_upsert", "merge_upsert_relative", "compact_files",
        "write_zordered", "stream_agg_maintain"])
def test_rewrite_heals_a_crashed_swap(spark, hadoop_cwd, writer, relative, want):
    """A crash between the two renames of a swap leaves the base missing
    and its data parked as ``<base>__old_*``.  The next rewrite restores
    it before it reads or replaces the dataset, and leaves no parked
    copy behind."""
    import glob

    path = str(hadoop_cwd / "ds")
    base = "ds" if relative else path
    writer(spark, base, hadoop_cwd / "first", _HEAL_FIRST)
    os.rename(path, f"{path}__old_1")  # the crash window state

    writer(spark, base, hadoop_cwd / "second", _HEAL_SECOND)
    got = {r.k: float(r.v) for r in spark.read.parquet(path).collect()}
    assert got == want
    assert not glob.glob(f"{path}__old_*")


def test_merge_upsert_keeps_the_callers_cache(spark, tmp_path):
    """``merge_upsert`` releases only what it persisted itself: an
    update frame the caller persisted is still cached afterwards."""
    from asakusafw_spark_spark.sources.write import merge_upsert

    cm = spark._jsparkSession.sharedState().cacheManager()
    target = str(tmp_path / "dim")
    merge_upsert(target, _kv(spark, _HEAL_FIRST), "k")
    upd = _kv(spark, _HEAL_SECOND).persist()
    try:
        assert cm.lookupCachedData(upd._jdf).isDefined()
        merge_upsert(target, upd, "k")
        assert cm.lookupCachedData(upd._jdf).isDefined()
    finally:
        upd.unpersist()
    own = _kv(spark, [(4, 40.0)])
    merge_upsert(target, own, "k")
    assert not cm.lookupCachedData(own._jdf).isDefined()
    got = {r.k: r.v for r in spark.read.parquet(target).collect()}
    assert got == {1: 10.0, 2: 25.0, 3: 30.0, 4: 40.0}
