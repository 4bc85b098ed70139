"""Direct I/O sinks (SURVEY.md §2.5).

- :func:`write_flat` — DirectOutputPrepare *Flat*: write a dataset's
  files under a base path (DirectOutputPrepare.scala:156-199).  Spark's
  committer provides per-dataset atomicity (v1/v2 FileOutputCommitter).
- :func:`write_grouped` — DirectOutputPrepare *Group*: records shuffled
  by a pattern-GENERATED file path, sorted within each file, ONE file
  per distinct path (DirectOutputPrepare.scala:201-258).
- :class:`TransactionalOutput` — DirectOutputSetup/Commit +
  TransactionManager (TransactionManager.scala): multi-dataset two-phase
  commit — each dataset writes to a staging dir, then all are promoted
  in order and sealed with a transaction marker.

Scale notes: ``write_grouped`` shuffles once on the generated path and
sorts within partitions — the same single wide dependency the reference
uses.  One-file-per-path is inherently serial per path; for skewed path
distributions pass ``max_records_per_file`` to allow Spark to split a
hot path into numbered parts (relaxation flagged to the caller).

Datasets rewritten in place (:func:`merge_upsert`, :func:`compact_files`,
:func:`write_zordered`, the streaming state tables) share one crash
protocol, single writer per dataset.  The new version is staged in a
sibling dir; :func:`_publish` parks the live dir as ``<base>__old_<ms>``,
renames the staging dir in and then deletes the parked copy (a failed
rename restores it).  A crash between the two renames leaves the base
missing and its data parked, so every writer first calls
:func:`_heal_dataset`: it restores the newest parked copy when the base
is missing and deletes the rest.  Partition swaps park under
``<base>__parked/<partition>`` instead, and :func:`_settle_parked`
applies one rule to each parked partition: delete it when the live copy
exists, rename it back otherwise.  Parked copies are siblings of the
dataset, so no reader of the base ever sees them.
"""

from __future__ import annotations

import os
import time
import urllib.parse
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..actions import run_actions
from ..caching import cache_scope, persist
from .pattern import OutputPattern

Ordering = Sequence[tuple[str, str]]

_PATH_COL = "__output_path__"


class HadoopFs:
    """Filesystem operations through ``org.apache.hadoop.fs.FileSystem``.

    The reference's Direct I/O promotion and transaction manager run over
    Hadoop FileSystem (runtime/.../graph/DirectOutputPrepare.scala:201-258,
    TransactionManager.scala), so they work identically on ``file://``,
    ``hdfs://`` and ``s3a://``.  This wrapper gives the sinks below the
    same property: one code path, resolved per-URI via
    ``Path.getFileSystem(hadoopConf)`` — never driver-local ``os``/
    ``shutil`` calls, which silently break on any remote filesystem.
    """

    def __init__(self, spark: SparkSession, base: str):
        self.spark = spark
        self._jpath = spark._jvm.org.apache.hadoop.fs.Path
        self._fs = self._jpath(base).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )

    def qualify(self, p: str) -> str:
        """``p`` with scheme and absolute path, a relative one resolved
        against the filesystem's working directory as Spark's writers
        resolve it."""
        return str(self._fs.makeQualified(self._jpath(p)))

    def exists(self, p: str) -> bool:
        return self._fs.exists(self._jpath(p))

    def mkdirs(self, p: str) -> None:
        self._fs.mkdirs(self._jpath(p))

    def delete(self, p: str) -> None:
        self._fs.delete(self._jpath(p), True)

    def rename(self, src: str, dst: str) -> None:
        if not self._fs.rename(self._jpath(src), self._jpath(dst)):
            raise IOError(f"rename failed: {src} -> {dst}")

    def listdir(self, p: str) -> list[str]:
        return sorted(
            st.getPath().getName() for st in self._fs.listStatus(self._jpath(p))
        )

    def write_text(self, p: str, text: str) -> None:
        out = self._fs.create(self._jpath(p), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def read_text(self, p: str, max_bytes: int = 1 << 16) -> str:
        """Read a small control file.  Needed for ``_``-prefixed markers,
        which Hadoop's FileInputFormat (and so ``wholeTextFiles``)
        silently filters as hidden."""
        inp = self._fs.open(self._jpath(p))
        try:
            buf = bytearray()
            while len(buf) < max_bytes:
                b = inp.read()
                if b < 0:
                    break
                buf.append(b)
            return buf.decode("utf-8")
        finally:
            inp.close()

    def glob(self, pattern: str) -> list[str]:
        """Paths matching a Hadoop glob (``*``, ``?``, ``[abc]``,
        ``{a,b}`` — FileSystem.globStatus semantics)."""
        statuses = self._fs.globStatus(self._jpath(pattern))
        if statuses is None:
            return []
        return sorted(str(st.getPath()) for st in statuses)

    def filesize(self, p: str) -> "int | None":
        """File length in bytes; None for directories."""
        st = self._fs.getFileStatus(self._jpath(p))
        return int(st.getLen()) if st.isFile() else None

    def list_files_recursive(self, p: str) -> "list[tuple[str, int]]":
        """(path, size) for every FILE under ``p``, any depth — Hadoop
        globs are single-level, so partitioned layouts need
        ``FileSystem.listFiles(recursive=true)``."""
        it = self._fs.listFiles(self._jpath(p), True)
        out = []
        while it.hasNext():
            st = it.next()
            out.append((str(st.getPath()), int(st.getLen())))
        return out


def write_flat(
    df: DataFrame,
    base_path: str,
    format: str = "parquet",
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    delete_patterns: Sequence[str] | None = None,
    counters=None,
    sink_name: str | None = None,
    **options,
) -> None:
    """Flat output: dataset files under ``base_path`` (``*`` in the
    reference's pattern = attempt id = Spark's part-file numbering).

    ``delete_patterns``: ``base_path``-relative Hadoop globs deleted
    BEFORE the write — the reference's flat-output "delete patterns"
    (DirectOutputPrepare.scala:156-199: clear matching stale resources
    without dropping the whole dataset).  Use with ``mode="append"`` to
    replace one slice of a mixed directory; plain ``mode="overwrite"``
    already clears everything.  Patterns resolving outside ``base_path``
    are rejected (same guard as the grouped writer's path grammar).

    ``counters``: an :class:`~..listener.OutputCounters` — records ride
    ``df.observe`` during the write (no extra job), bytes/files come
    from one post-write FS listing (reference
    ``listener/OutputCounters.scala`` job-end metrics).  ``sink_name``
    labels the counter (default: the base path).
    """
    if counters is not None:
        df = counters.observe(sink_name or base_path, df)
    if delete_patterns:
        fs = HadoopFs(df.sparkSession, base_path)
        base = base_path.rstrip("/")
        for pat in delete_patterns:
            rel = [seg for seg in pat.split("/") if seg not in ("", ".")]
            if any(seg == ".." for seg in rel):
                raise ValueError(
                    f"write_flat: delete pattern escapes the dataset: {pat!r}"
                )
            for hit in fs.glob(f"{base}/{'/'.join(rel)}"):
                fs.delete(hit)
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if format == "tsv":
        options.setdefault("sep", "\t")
        format = "csv"
    if format == "csv":
        options.setdefault("header", True)
    w.options(**options).format(format).save(base_path)
    if counters is not None:
        counters.record_files(
            sink_name or base_path, df.sparkSession, base_path
        )


def write_grouped(
    df: DataFrame,
    base_path: str,
    pattern: str | OutputPattern,
    ordering: Ordering = (),
    format: str = "csv",
    max_records_per_file: int | None = None,
    counters=None,
    sink_name: str | None = None,
    **options,
) -> list[str]:
    """Grouped output: one file per distinct generated path, records
    sorted within each file by ``ordering``.

    Returns the list of relative paths written.  Implementation:
    generate the path column (native exprs), hash-repartition on it (all
    of a path's records land in one task), sort within partitions by
    (path, ordering), write ``partitionBy(path)`` to a staging dir, then
    promote each ``__output_path__=...`` directory's single part file to
    its exact final path — the rename pass is the analogue of the
    reference's attempt→transaction promotion.
    """
    if isinstance(pattern, str):
        pattern = OutputPattern(pattern)
    if counters is not None:
        df = counters.observe(sink_name or base_path, df)
    pathed = df.withColumn(_PATH_COL, pattern.column(df))
    sort_cols = [F.col(_PATH_COL)] + [
        F.col(c).asc() if d == "asc" else F.col(c).desc() for c, d in ordering
    ]
    pathed = pathed.repartition(F.col(_PATH_COL)).sortWithinPartitions(*sort_cols)

    staging = f"{base_path}/_staging_{int(time.time() * 1000)}"
    if max_records_per_file:
        options.setdefault("maxRecordsPerFile", str(max_records_per_file))
    write_flat(
        pathed, staging, format=format, partition_by=[_PATH_COL], **options
    )

    # promotion pass: <staging>/__output_path__=<enc>/part-*.ext → <base>/<path>
    # (Hadoop FS throughout — same code path on file://, hdfs://, s3a://).
    # Every promoted file costs a handful of namenode/object-store RPCs
    # (list, mkdirs, exists, rename); serially that makes COMMIT the
    # bottleneck for patterns generating ~100k paths, so entries promote
    # 16 at a time through ``run_actions`` — Hadoop FileSystem instances
    # are documented thread-safe, and py4j serves each Python thread over
    # its own gateway connection.  Promotion order is irrelevant (paths
    # are disjoint); the returned list is sorted for determinism.
    fs = HadoopFs(df.sparkSession, base_path)
    entries = [e for e in fs.listdir(staging) if e.startswith(_PATH_COL + "=")]

    def promote(entry: str) -> list[str]:
        rel = urllib.parse.unquote(entry.split("=", 1)[1])
        if os.path.isabs(rel) or ".." in rel.split("/"):
            raise ValueError(f"grouped output path escapes base: {rel!r}")
        parts = sorted(
            f
            for f in fs.listdir(f"{staging}/{entry}")
            if f.startswith("part-")
        )
        out: list[str] = []
        for i, part in enumerate(parts):
            dest_rel = rel if len(parts) == 1 else f"{rel}.{i}"
            dest = f"{base_path}/{dest_rel}"
            parent = dest.rsplit("/", 1)[0]
            fs.mkdirs(parent)
            if fs.exists(dest):
                fs.delete(dest)
            fs.rename(f"{staging}/{entry}/{part}", dest)
            out.append(dest_rel)
        return out

    written: list[str] = []
    run_actions(fs.spark, 16, (
        (promote, (entry,), written.extend) for entry in entries
    ))
    fs.delete(staging)
    written = sorted(written)
    if counters is not None:
        # bytes from the PROMOTED files only (the base dir may hold
        # other datasets) — one getFileStatus per written file
        counters.record_sizes(
            sink_name or base_path,
            [
                (rel, fs.filesize(f"{base_path}/{rel}") or 0)
                for rel in written
            ],
        )
    return written


class TransactionalOutput:
    """Multi-dataset two-phase commit (DirectOutputSetup → Prepare* →
    Commit ordering, TransactionManager.scala).

    Spark's committer makes each single dataset atomic; CROSS-dataset
    atomicity needs an engine-level protocol: every dataset stages under
    ``<base>/_tx_<id>/<name>``, and :meth:`commit` retracts any earlier
    transaction's ``_TRANSACTION_SUCCESS`` marker, promotes all stages,
    then writes its own marker.  Readers treat the marker as the
    validity gate, so a crash mid-promotion is detectable (marker
    absent) and re-runnable (promotion is idempotent moves).  The
    earlier transaction's datasets are replaced, not parked: after a
    failed recommit the base holds no valid state until a rerun.
    """

    def __init__(
        self,
        base_path: str,
        tx_id: str | None = None,
        spark: SparkSession | None = None,
        counters=None,
    ):
        self.base_path = base_path
        self.tx_id = tx_id or f"tx_{int(time.time() * 1000)}"
        self._staged: dict[str, str] = {}  # final dir -> staging dir, in order
        self._committed = False
        self._spark = spark
        self._counters = counters

    @property
    def staging_root(self) -> str:
        return f"{self.base_path}/_tx_{self.tx_id}"

    def _fs(self) -> HadoopFs:
        spark = self._spark or SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                "TransactionalOutput needs a SparkSession (pass spark= or "
                "create one before setup/commit)"
            )
        return HadoopFs(spark, self.base_path)

    def setup(self) -> "TransactionalOutput":
        self._fs().mkdirs(self.staging_root)
        return self

    def sweep_orphans(self) -> list[str]:
        """Delete sibling ``_tx_*`` staging roots left by CRASHED runs
        (they never committed; re-running the job is the recovery
        protocol, exactly the reference TransactionManager's stale-
        transaction cleanup).  SINGLE WRITER per base path: a second
        concurrently-staging transaction on the same base would be
        swept — serialize writers or use distinct bases.  Never touches
        this transaction's own staging or any committed data.  Returns
        the swept directory names."""
        fs = self._fs()
        own = f"_tx_{self.tx_id}"
        swept = []
        try:
            names = fs.listdir(self.base_path)
        except Exception:
            return swept  # base doesn't exist yet — nothing staged
        for n in names:
            if n.startswith("_tx_") and n != own:
                fs.delete(f"{self.base_path}/{n}")
                swept.append(n)
        return swept

    def prepare(
        self, name: str, df: DataFrame, format: str = "parquet", **options
    ) -> None:
        """Stage one dataset (DirectOutputPrepare).  ``name`` may be
        nested (``rounds/r=3`` — iterative per-round outputs) but must
        stay inside the base path and be unique within the transaction
        (an iterative sink template that forgets its round variable
        would silently overwrite earlier rounds' staging and then fail
        at the second promotion — caught here instead)."""
        if self._spark is None:
            self._spark = df.sparkSession
        staging = self._reserve(name)
        try:
            self._write(name, staging, df, format, options)
        except BaseException:
            del self._staged[f"{self.base_path}/{name}"]  # free the name for a retry
            raise

    def _reserve(self, name: str) -> str:
        """The bookkeeping half of :meth:`prepare`: validate ``name``,
        register its staging → final pair and return the staging path.
        Cheap and driver-only, so a pipelined caller reserves names in
        order on one thread and runs only :meth:`_write` concurrently."""
        if os.path.isabs(name) or ".." in name.split("/"):
            raise ValueError(f"prepare: dataset name escapes base: {name!r}")
        final = f"{self.base_path}/{name}"
        if final in self._staged:
            raise ValueError(
                f"prepare: dataset {name!r} already staged in this "
                "transaction — per-round sink templates must embed a "
                "round-distinct variable (e.g. 'out/round={round}')"
            )
        staging = f"{self.staging_root}/{name}"
        self._staged[final] = staging
        return staging

    def _write(
        self, name: str, staging: str, df: DataFrame, format: str, options: dict
    ) -> None:
        """The Spark half of :meth:`prepare`: write ``df`` to a staging
        path returned by :meth:`_reserve`."""
        write_flat(
            df, staging, format=format, mode="overwrite",
            counters=self._counters, sink_name=name, **options,
        )

    def commit(self) -> None:
        """Promote every staged dataset, then seal the transaction.

        Promotions are metadata RPCs (exists/delete/mkdirs/rename per
        dataset) with disjoint paths, so — like the grouped-output
        promotion pass above — they run 16 at a time (``run_actions``):
        a 10k-dataset iterative transaction commits at RPC-concurrency
        speed instead of serially.  An earlier transaction's marker is
        deleted BEFORE the first promotion and the new one strictly
        FOLLOWS every promotion (all drained), preserving the two-phase
        contract: a crash mid-promotion leaves no marker (not a stale
        one over a torn mix), and re-running the job re-stages and
        re-promotes idempotently."""
        fs = self._fs()
        marker = f"{self.base_path}/_TRANSACTION_SUCCESS"
        fs.delete(marker)

        def promote(final: str, staging: str) -> None:
            if fs.exists(final):
                fs.delete(final)
            # nested dataset names (e.g. iterative "rounds/r=3") need
            # the final parent to exist before the rename
            fs.mkdirs(final.rsplit("/", 1)[0])
            fs.rename(staging, final)

        # any promotion error raises HERE, before the marker is written
        run_actions(fs.spark, 16, (
            (promote, pair, None) for pair in self._staged.items()
        ))
        fs.write_text(marker, self.tx_id + "\n")
        fs.delete(self.staging_root)
        self._committed = True
        if self._counters is not None:
            self._counters.log()

    def abort(self) -> None:
        fs = self._fs()
        if fs.exists(self.staging_root):
            fs.delete(self.staging_root)

    def __enter__(self) -> "TransactionalOutput":
        return self.setup()

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is None and not self._committed:
            self.commit()
        elif exc_type is not None:
            self.abort()


def write_bucketed(
    df: DataFrame,
    table: str,
    key: Sequence[str],
    num_buckets: int,
    sort_by: Sequence[str] | None = None,
    path: str | None = None,
    format: str = "parquet",
) -> None:
    """Bucketed (hash-clustered) table write — the co-located-join
    primitive: two tables bucketed on the same key with the same bucket
    count join WITHOUT any Exchange (verified by test_io), because every
    bucket pair is already co-partitioned on disk.

    At 100 TB this converts every repeated fact⋈fact join on the bucket
    key from a full shuffle into a local merge — the Spark-native
    equivalent of the reference pre-partitioning subplan outputs
    (SubPlanOutputInfo PARTITIONED, SURVEY.md §3.1).  ``sort_by`` adds
    within-bucket sort so the join skips its sort phase too.

    Bucketing metadata lives in the session catalog (``saveAsTable``);
    read back with ``spark.table(table)``.
    """
    spark = df.sparkSession
    if path is None and not spark.catalog.tableExists(table):
        # a previous SESSION's managed-table directory with no catalog entry
        # fails saveAsTable with LOCATION_ALREADY_EXISTS even in overwrite
        # mode — clear the orphan location first (Hadoop FS: any filesystem)
        wh = spark.conf.get("spark.sql.warehouse.dir")
        loc = f"{wh.rstrip('/')}/{table.lower()}"
        fs = HadoopFs(spark, loc)
        if fs.exists(loc):
            fs.delete(loc)
    w = df.write.format(format).mode("overwrite").bucketBy(num_buckets, *key)
    if sort_by:
        w = w.sortBy(*sort_by)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def _siblings(fs: HadoopFs, base: str, infix: str) -> list[str]:
    """Sorted ``<base><infix>*`` siblings of a dataset dir (``base`` may
    be relative; the results are qualified)."""
    parent, name = fs.qualify(base).rstrip("/").rsplit("/", 1)
    try:
        names = fs.listdir(parent)
    except Exception:
        return []  # no parent dir: no siblings
    return [f"{parent}/{n}" for n in names if n.startswith(name + infix)]


def _heal_dataset(
    fs: HadoopFs, base: str, log: list[str] | None = None
) -> bool:
    """Undo a crash inside :func:`_publish`: when ``base`` is missing,
    restore its newest parked ``__old_*`` copy; delete every other.
    Returns whether ``base`` exists afterwards."""
    olds = _siblings(fs, base, "__old_")
    exists = fs.exists(base)
    if olds and not exists:
        fs.rename(olds[-1], base)
        if log is not None:
            log.append(f"restored dataset from {olds[-1]}")
        olds, exists = olds[:-1], True
    for o in olds:
        fs.delete(o)
        if log is not None:
            log.append(f"deleted leftover {o}")
    return exists


def _publish(fs: HadoopFs, base: str, staging: str) -> None:
    """Move ``staging`` to ``base``.  An existing ``base`` is parked as
    an ``__old_*`` sibling first and deleted only after the staging
    rename succeeded; a failed rename restores it and leaves staging."""
    if not fs.exists(base):
        fs.rename(staging, base)
        return
    old = f"{base}__old_{int(time.time() * 1000)}"
    fs.rename(base, old)
    try:
        fs.rename(staging, base)
    except Exception:
        fs.rename(old, base)
        raise
    fs.delete(old)


def _parked_path(base: str, rel: str | None = None) -> str:
    """Parking path for a partition dir mid-swap (the parking root when
    ``rel`` is None).  Parked data lives OUTSIDE the dataset tree (a
    ``__parked`` sibling) — an in-tree marker dir would feed Spark's
    partition inference (a dir named ``_old_day=x`` at partition level
    raises CONFLICTING_PARTITION_COLUMN_NAMES on read)."""
    root = f"{base}__parked"
    return root if rel is None else f"{root}/{rel}"


def _settle_parked(
    fs: HadoopFs, parked: str, live: str, log: list[str] | None = None
) -> None:
    """If a parked partition copy exists, delete it when its live copy
    exists (the swap finished) and rename it back otherwise."""
    if not fs.exists(parked):
        return
    if fs.exists(live):
        fs.delete(parked)
        action = f"deleted parked {parked} (live copy exists)"
    else:
        fs.mkdirs(live.rsplit("/", 1)[0])
        fs.rename(parked, live)
        action = f"restored {live} from parked copy"
    if log is not None:
        log.append(action)


def _drop_parked_root(fs: HadoopFs, base: str) -> bool:
    """Delete the parking root if it exists and is EMPTY (never drop
    parked data); returns whether it was deleted."""
    root = _parked_path(base)
    if fs.exists(root) and not fs.listdir(root):
        fs.delete(root)
        return True
    return False


#: Directory name Spark/Hive write for a NULL partition value
#: (ExternalCatalogUtils.DEFAULT_PARTITION_NAME — stable across versions).
_NULL_PARTITION_DIR = "__HIVE_DEFAULT_PARTITION__"


def _escape_rels(spark: SparkSession, parts: Sequence[str], rows) -> list[str]:
    """Partition-relative paths for value rows, with Spark's own
    partition-path escaping (so they match written directory names).
    NULL values map to the Hive default-partition dir, exactly as
    ``partitionBy`` writes them — ``str(None)`` would target a
    nonexistent ``c=None`` path."""
    esc = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    return [
        "/".join(
            f"{c}=" + (
                _NULL_PARTITION_DIR
                if row[c] is None
                else esc.escapePathName(str(row[c]))
            )
            for c in parts
        )
        for row in rows
    ]


def merge_upsert(
    target_path: str,
    updates: DataFrame,
    key: str | Sequence[str],
    partition_by: str | Sequence[str] | None = None,
    delete_col: str | None = None,
    format: str = "parquet",
    evolve_schema: bool = False,
    max_touched_partitions: int = 100_000,
    **options,
) -> None:
    """CDC-style merge (upsert) into a path-based dataset: rows in
    ``updates`` REPLACE existing rows with the same ``key``, new keys
    append, and rows whose ``delete_col`` is true tombstone their key.

    Parquet files are immutable, so a merge is necessarily a rewrite —
    the design question at 100 TB is HOW MUCH rewrites.  Without
    ``partition_by`` the whole dataset is rewritten through a sibling
    staging dir and swapped in (two Hadoop renames — correct anywhere,
    linear in dataset size: fine for dimensions, wrong for facts).
    With ``partition_by`` only the partitions CONTAINING updated keys
    rewrite: the update frame's distinct partition values broadcast-
    semi-join-prune the target read, the merged result stages
    ``partitionBy`` those values, and promotion swaps just those
    partition directories (thread-pooled renames, untouched partitions
    never read OR written) — merge cost ∝ touched partitions, the
    Hive-dynamic-partition-overwrite shape.  The driver's share of that
    cost is one collected row + a handful of FS RPCs PER TOUCHED
    PARTITION, so ``max_touched_partitions`` (default 100k) fail-fasts
    a full-table-churn merge before collecting (probed with
    ``limit(n+1).count()``) and directs it to the unpartitioned
    full-rewrite path, which is one staged write + two renames no
    matter the partition count.

    PRECONDITION with ``partition_by``: every update/delete row must
    carry its key's CURRENT partition value — pruning keys off the
    update row's partition, so a row whose partition value disagrees
    with the stored row leaves the stale copy in place (move a key
    across partitions as delete-in-old + insert-in-new).  NULL partition
    values are supported: they prune/swap/heal through Hive's
    ``__HIVE_DEFAULT_PARTITION__`` directory like any other value.

    ``evolve_schema=True`` permits ADDITIVE schema changes: update rows
    may introduce new columns (existing rows read them as NULL) or omit
    existing ones (inserted rows carry NULL); same-name type conflicts
    raise.  On the partitioned path untouched partitions keep their old
    files, so the dataset becomes mixed-schema until every partition is
    rewritten — this function reads its own state with
    ``mergeSchema=true``, and other readers of an evolved partitioned
    dataset must do the same (or run :func:`compact_files` to
    normalize).  Unpartitioned merges rewrite everything and stay
    uniform.

    Not a concurrent-writer log-structured table (no snapshot isolation
    between concurrent merges — that is Delta/Iceberg territory).  Crash
    SAFETY (single writer): swaps follow this module's park/heal/publish
    protocol, and the NEXT merge heals the dataset and every partition
    it touches BEFORE it reads current state — so a replayed merge after
    a mid-swap crash is self-healing.  A crashed partition a later merge
    does NOT touch stays parked (invisible to reads) until
    :func:`recover_merge` restores it.
    Staging directories are never deleted on error — every byte exists
    somewhere at every instant.  Never reads and writes the same path in
    one job (the classic self-overwrite corruption): staging is always a
    sibling.
    """
    spark = updates.sparkSession
    keys = [key] if isinstance(key, str) else list(key)
    parts = (
        [partition_by]
        if isinstance(partition_by, str)
        else list(partition_by or [])
    )
    fs = HadoopFs(spark, target_path)

    inserts = updates
    if delete_col is not None:
        inserts = updates.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
        updates_keys = updates.select(*keys)  # deletes still evict their key
    else:
        updates_keys = updates.select(*keys)

    base = target_path.rstrip("/")
    staging = f"{base}__merge_{int(time.time() * 1000)}"

    # a replayed merge after a crashed swap must RESTORE the parked
    # dataset, never mistake it for a first load
    if not _heal_dataset(fs, base):
        write_flat(
            inserts, target_path, format=format, mode="overwrite",
            partition_by=parts or None, **options,
        )
        return

    # the updates lineage feeds three plans (touched-partition pruning,
    # key anti-join, the insert union) — materialize it once; a frame
    # the caller persisted stays cached
    with cache_scope():
        updates = persist(updates)
        touched_vals: list = []
        touched = None
        if parts:
            touched = updates.select(*parts).distinct()
            # Fail-fast BEFORE collecting: the driver collects one row
            # per touched partition and then issues per-partition FS
            # heal/swap RPCs, so cost ∝ churn × partition granularity.
            # A full-table-churn merge over a million-partition table
            # would otherwise collect a million rows — refuse and point
            # at the full-rewrite path instead (probe via limit(n+1)
            # like group_view's cap: never counts past the cap).
            cap = int(max_touched_partitions)
            if cap < 1:
                raise ValueError(
                    "merge_upsert: max_touched_partitions must be >= 1"
                )
            if touched.limit(cap + 1).count() > cap:
                raise ValueError(
                    f"merge_upsert: updates touch more than "
                    f"{cap} partitions of {target_path}; per-partition "
                    "swap cost would dominate — run the unpartitioned "
                    "full-rewrite path (partition_by=None) or raise "
                    "max_touched_partitions"
                )
            touched_vals = touched.collect()
            # partition-level crash healing BEFORE reading current state:
            # restore any touched partition parked by a crashed swap
            for rel in _escape_rels(spark, parts, touched_vals):
                _settle_parked(
                    fs, _parked_path(base, rel), f"{target_path}/{rel}"
                )
        reader = spark.read.format(format)
        if evolve_schema:
            # touched-partition rewrites leave untouched partitions on
            # the OLD schema, so the current state must footer-merge
            reader = reader.option("mergeSchema", "true")
        current = reader.load(target_path)
        if evolve_schema:
            # additive evolution: updates may ADD columns (backfilled as
            # typed NULL in existing rows) and OMIT columns (carried as
            # NULL on inserted rows).  Type conflicts are refused — a
            # silent cast would corrupt history.
            cur_fields = {f.name: f.dataType for f in current.schema.fields}
            upd_fields = {f.name: f.dataType for f in inserts.schema.fields}
            conflicts = {
                n: (str(cur_fields[n]), str(t))
                for n, t in upd_fields.items()
                if n in cur_fields and cur_fields[n] != t
            }
            if conflicts:
                raise ValueError(
                    f"merge_upsert(evolve_schema): type conflicts {conflicts}"
                )
            for n, t in upd_fields.items():
                if n not in cur_fields:
                    current = current.withColumn(n, F.lit(None).cast(t))
            for n, t in cur_fields.items():
                if n not in upd_fields:
                    inserts = inserts.withColumn(n, F.lit(None).cast(t))
        if parts:
            # null-safe semi-join: a NULL partition value is a real
            # partition (written as __HIVE_DEFAULT_PARTITION__); plain
            # column-name equality would never match it, dropping every
            # non-updated row of the null partition on the swap
            cond = None
            for c in parts:
                e = current[c].eqNullSafe(touched[c])
                cond = e if cond is None else cond & e
            current = current.join(F.broadcast(touched), cond, "left_semi")
        survivors = current.join(updates_keys.distinct(), keys, "left_anti")
        merged = survivors.unionByName(inserts)

        write_flat(
            merged, staging, format=format, mode="overwrite",
            partition_by=parts or None, **options,
        )

    if parts:
        # swap only the staged partition directories (depth = len(parts))
        def walk(rel: str, depth: int) -> list[str]:
            if depth == 0:
                return [rel]
            out = []
            for name in fs.listdir(f"{staging}/{rel}" if rel else staging):
                if "=" in name:
                    out.extend(walk(f"{rel}/{name}" if rel else name, depth - 1))
            return out

        part_dirs = walk("", len(parts))

        # a touched partition that staged NOTHING had every row deleted —
        # its target dir must be REMOVED, not skipped (path built with
        # Spark's own partition-path escaping)
        touched_rels = set(_escape_rels(spark, parts, touched_vals))
        emptied = sorted(touched_rels - set(part_dirs))

        def swap(rel: str) -> None:
            dest = f"{target_path}/{rel}"
            fs.mkdirs(dest.rsplit("/", 1)[0])
            parked = _parked_path(base, rel)
            _settle_parked(fs, parked, dest)  # leftover of a prior swap
            if fs.exists(dest):
                # park, don't delete: a crash between these two renames
                # leaves the data recoverable (healed by the next merge
                # touching this partition, or by recover_merge)
                fs.mkdirs(parked.rsplit("/", 1)[0])
                fs.rename(dest, parked)
            fs.rename(f"{staging}/{rel}", dest)
            if fs.exists(parked):
                fs.delete(parked)

        run_actions(spark, 16, ((swap, (rel,), None) for rel in part_dirs))
        for rel in emptied:
            dest = f"{target_path}/{rel}"
            if fs.exists(dest):
                fs.delete(dest)
        fs.delete(staging)  # success only — on error staging survives
        _drop_parked_root(fs, base)
    else:
        _publish(fs, base, staging)


def recover_merge(
    spark: SparkSession, target_path: str, partition_depth: int = 0
) -> list[str]:
    """Restore crash leftovers of :func:`merge_upsert` that no later
    merge has healed: partition dirs parked under the ``__parked``
    sibling whose live copy is missing are renamed back (those whose
    live copy exists are deleted), and a parked ``__old_*`` dataset
    sibling with no live target is restored.  ``partition_depth`` =
    number of partition columns (0 for unpartitioned datasets).
    Returns a log of actions taken — run it after an unclean writer
    death, or periodically as a janitor.
    """
    fs = HadoopFs(spark, target_path)
    base = target_path.rstrip("/")
    actions: list[str] = []
    if not _heal_dataset(fs, base, actions):
        return actions
    if not fs.exists(_parked_path(base)):
        return actions

    def walk(rel: str, depth: int) -> None:
        for name in fs.listdir(_parked_path(base, rel or None)):
            sub = f"{rel}/{name}" if rel else name
            if depth > 1 and "=" in name:
                walk(sub, depth - 1)
            else:
                _settle_parked(
                    fs, _parked_path(base, sub), f"{target_path}/{sub}",
                    actions,
                )

    walk("", max(partition_depth, 1))
    if _drop_parked_root(fs, base):
        actions.append("removed empty parked root")
    return actions


def compact_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    format: str = "parquet",
) -> int:
    """Small-file compaction: rewrite the dataset at ``path`` into
    ``ceil(total_bytes / target_file_bytes)`` files (≥1) and atomically
    swap it in.  Returns the new file count.

    The operational companion of the streaming sinks: per-micro-batch
    appends (``stream_dedup_ingest``, foreachBatch writers) and
    incremental merges accrete files far smaller than a scan-efficient
    split, and at 100 TB the file COUNT — driver listing time, footer
    reads, task scheduling — becomes its own bottleneck.  Run this on a
    maintenance cadence.

    The compacted copy is staged beside the dataset and published by
    the park/heal/publish protocol of this module (its docstring); a
    dataset left parked by a crashed swap is healed first.  Readers
    racing the swap see the old or the new dataset, never a mix.  No
    snapshot isolation vs concurrent WRITERS (same caveat as
    merge_upsert).
    """
    import math

    fs = HadoopFs(spark, path)
    base = path.rstrip("/")
    _heal_dataset(fs, base)
    sizes = [
        s
        for p in fs.glob(f"{base}/*")
        for s in [fs.filesize(p)]
        if s is not None
    ]
    total = sum(sizes)
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.format(format).load(base)
    staging = f"{base}__compact_{int(time.time() * 1000)}"
    df.repartition(n_files).write.format(format).mode("overwrite").save(staging)
    _publish(fs, base, staging)
    return n_files


def _quantile_bucket_expr(v, cuts: "list[float]", base: int = 0):
    """Branchless-depth bucket lookup: a binary-search CASE tree over
    sorted cut points — log2(len(cuts)) comparisons per row, all
    whole-stage-codegen (vs a linear 2^bits-arm when-chain).  NULL
    values fall through every comparison into bucket 0."""
    if not cuts:
        return F.lit(base)
    mid = len(cuts) // 2
    return (
        F.when(
            v > F.lit(cuts[mid]),
            _quantile_bucket_expr(v, cuts[mid + 1:], base + mid + 1),
        ).otherwise(_quantile_bucket_expr(v, cuts[:mid], base))
    )


def write_zordered(
    df,
    path: str,
    cols: Sequence[str],
    bits: int = 6,
    num_files: int = 32,
    format: str = "parquet",
) -> None:
    """Write ``df`` clustered on a Z-ORDER (Morton) curve over ``cols``
    so parquet min/max statistics prune files for predicates on ANY of
    the clustered columns — the multi-dimensional generalization of
    sort-by-one-column layout.

    Why it matters at 100 TB: a dataset sorted on ``col_a`` skips
    nothing for a ``col_b`` filter; linearizing the (a, b, …) space on
    an interleaved-bit curve gives every clustered column locality ∝
    2^-bits per file, so a selective filter on any one of them reads a
    small fraction of files (verified by the footer-stats test).

    Mechanics — all JVM-side, one pass over the data plus one bounded
    driver round-trip per column:

    1. per column, 2^bits − 1 approx-quantile cut points (driver
       receives ≤ 63 doubles/column at the default ``bits=6`` —
       MapBroadcast-bounded like the IVF quantizer sample); quantile
       (not linear) bucketing keeps the curve balanced under skew;
    2. per row, bucket ids via a binary-search CASE tree
       (log2 comparisons, codegen) interleaved into the Morton key
       with shift/or arithmetic — no UDF;
    3. ``repartitionByRange`` on the key (range exchange ⇒ files tile
       the curve) + ``sortWithinPartitions`` ⇒ tight per-file min/max
       on every clustered column.

    The write stages beside ``path`` and publishes by this module's
    park/heal/publish protocol (same as :func:`compact_files`); content is
    byte-identical to the input — layout is the ONLY thing that
    changes (the roundtrip oracle checks exactly this).
    """
    spark = df.sparkSession
    n_buckets = 1 << bits
    fractions = [i / n_buckets for i in range(1, n_buckets)]
    # ONE quantile job for every clustered column (the list form of
    # approxQuantile shares a single pass) — per-column calls cost one
    # full scan each
    all_cuts = df.stat.approxQuantile(
        list(cols), fractions, 1.0 / (4 * n_buckets)
    )
    zcols = []
    for c, cuts in zip(cols, all_cuts):
        # de-dup plateaus (heavy ties) so the CASE tree stays strict
        uniq: list[float] = []
        for x in cuts:
            if not uniq or x > uniq[-1]:
                uniq.append(x)
        zcols.append(_quantile_bucket_expr(F.col(c).cast("double"), uniq))
    ncols = len(zcols)
    if bits * ncols > 63:
        raise ValueError(
            f"write_zordered: bits*len(cols) = {bits * ncols} exceeds 63 — "
            "the Morton key would overflow a long; lower bits or cluster "
            "fewer columns"
        )
    # interleave in LONG arithmetic: with int32 expressions, bit
    # positions past 31 (e.g. bits=6 with 6+ columns) wrap and the
    # clustering silently degrades
    z = F.lit(0).cast("long")
    for j, b in enumerate(zcols):
        b = b.cast("long")
        for i in range(bits):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, i * ncols + j))
    ordered = (
        df.withColumn("__z__", z)
        .repartitionByRange(num_files, F.col("__z__"))
        .sortWithinPartitions("__z__")
        .drop("__z__")
    )
    base = path.rstrip("/")
    fs = HadoopFs(spark, base)
    _heal_dataset(fs, base)
    staging = f"{base}__zorder_{int(time.time() * 1000)}"
    ordered.write.format(format).mode("overwrite").save(staging)
    _publish(fs, base, staging)


def dataset_manifest(spark: SparkSession, path: str) -> DataFrame:
    """Iceberg-style file manifest for a parquet dataset: one row per
    data file with ``(file_name, size_bytes, num_rows, num_row_groups)``
    read from the parquet FOOTERS — the input a maintenance planner
    needs (compaction targeting, skew detection, skipping diagnostics)
    without scanning any data.

    Scale shape: the file list comes from one Hadoop listing; footer
    reads fan out over the cluster via ``mapInPandas`` on the path list
    (each footer is a few KB read), so a million-file dataset costs a
    million footer fetches spread across executors — never a data scan,
    never a driver loop.  ``file_name`` is relative to the dataset root
    (stable across copies; the oracle joins on it).
    """
    base = path.rstrip("/")
    fs = HadoopFs(spark, base)
    # sizes come from the SAME listing as the paths — no per-file stat
    # round-trip in the executor tasks
    rels = sorted(
        (p.split(base + "/", 1)[1], size)
        for p, size in fs.list_files_recursive(base)
        if p.endswith(".parquet")
    )
    pdf_schema = (
        "file_name string, size_bytes long, num_rows long, num_row_groups long"
    )
    paths_df = spark.createDataFrame(rels, "file_name string, size_bytes long")

    def read_footers(batches):
        import pandas as _pd
        import pyarrow.parquet as _pq

        local_base = base
        remote_fs = None
        if local_base.startswith("file:"):
            local_base = local_base[len("file:"):]
        elif "://" in local_base:
            # non-local scheme (hdfs://, s3://, …): resolve through
            # pyarrow's filesystem layer.  Raises a clear error if this
            # arrow build lacks the scheme's driver, instead of a
            # baffling per-task FileNotFoundError on a stripped path.
            from pyarrow import fs as _pafs

            remote_fs, local_base = _pafs.FileSystem.from_uri(local_base)
        for b in batches:
            out = []
            for rel, size in zip(b["file_name"], b["size_bytes"]):
                full = f"{local_base}/{rel}"
                if remote_fs is not None:
                    with remote_fs.open_input_file(full) as f:
                        md = _pq.read_metadata(f)
                else:
                    md = _pq.read_metadata(full)
                out.append((rel, size, md.num_rows, md.num_row_groups))
            yield _pd.DataFrame(
                out,
                columns=[
                    "file_name", "size_bytes", "num_rows", "num_row_groups"
                ],
            )

    return paths_df.mapInPandas(read_footers, pdf_schema)


def hadoop_output_newapi(
    df: DataFrame,
    path: str,
    output_format_class: str = (
        "org.apache.hadoop.mapreduce.lib.output.TextOutputFormat"
    ),
    key_class: str = "org.apache.hadoop.io.NullWritable",
    value_class: str = "org.apache.hadoop.io.Text",
    to_kv=None,
    conf: "dict | None" = None,
    key_converter: "str | None" = None,
    value_converter: "str | None" = None,
) -> None:
    """The TRUE arbitrary-``mapreduce.OutputFormat`` door — the write
    symmetric of :func:`~.read.hadoop_input_newapi` (reference
    ``runtime/.../graph/NewHadoopOutput.scala:84`` maps every record to
    ``(NullWritable, record)`` and calls ``saveAsNewAPIHadoopDataset``
    with any configured ``OutputFormat[K, V]``): adapts each Row to a
    ``(K, V)`` pair and writes through ``saveAsNewAPIHadoopFile`` with
    the given OutputFormat/key/value classes.

    ``to_kv``  — optional ``Row -> (key, value)`` adapter.  Defaults to
                 ``(None, tab-joined string of all columns)`` — ``None``
                 becomes ``NullWritable`` (so ``TextOutputFormat`` emits
                 the value alone, exactly the reference node's
                 ``(NullWritable.get, record)`` shape) and nulls render
                 as empty fields.  The default serialization is LOSSY
                 for values containing ``\\t`` or ``\\n`` (no escaping:
                 an embedded tab shifts fields, an embedded newline
                 splits the record on readback) — pass a custom
                 ``to_kv`` with escaping/quoting for such data, or use
                 a binary format (SequenceFileOutputFormat).  Python primitives are converted to
                 Writables by Spark's built-in ``JavaToWritableConverter``
                 (int → IntWritable, str → Text, None → NullWritable);
                 for custom Writables pass ``key_converter`` /
                 ``value_converter`` — JVM class names of
                 ``org.apache.spark.api.python.Converter``
                 implementations, forwarded verbatim.

    Scale shape: like the read side this is deliberately an
    RDD-boundary COMPATIBILITY hatch — rows cross the Python boundary
    once and there is no DataSource committer integration beyond what
    the OutputFormat's own ``OutputCommitter`` provides (Hadoop's
    FileOutputCommitter gives per-job atomicity via ``_temporary``
    staging, same guarantee the reference relies on).  Partitioning is
    preserved: each input partition becomes one ``part-r-NNNNN`` file
    written by its executor.  Prefer :func:`write_flat` /
    :func:`write_grouped` (DataSource writers: column pruning, codegen,
    committer v2) for anything with a native writer; reach for this
    only when the format exists solely as a Hadoop OutputFormat class.
    """
    if to_kv is None:
        def to_kv(row):
            return (
                None,
                "\t".join("" if v is None else str(v) for v in row),
            )
    adapter = to_kv
    df.rdd.map(lambda r: adapter(r)).saveAsNewAPIHadoopFile(
        path,
        output_format_class,
        keyClass=key_class,
        valueClass=value_class,
        keyConverter=key_converter,
        valueConverter=value_converter,
        conf=conf or {},
    )


def expire_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    cutoff: str,
    drop_null: bool = False,
    dry_run: bool = False,
) -> list[str]:
    """TTL retention for a hive-partitioned dataset: drop every
    first-level ``<partition_col>=<value>`` directory whose value sorts
    BELOW ``cutoff`` — the maintenance sibling of :func:`compact_files`
    / :func:`dataset_manifest` (the reference's Direct I/O has delete
    patterns for flat outputs, DirectOutputPrepare.scala:156-199; this
    is the partition-aware retention a date-partitioned 100 TB dataset
    actually needs).

    Comparison is on the UNESCAPED string value — correct for ISO dates
    (``day=2024-01-03``) and zero-padded numbers, the layouts partition
    TTLs run on.  Lexicographic order is WRONG for non-zero-padded
    numerics (``day=9`` sorts above ``day=10``), so unless every value
    and the cutoff share one sortable shape — same length, or both
    ISO-date-like — the sweep refuses to delete (``ValueError``;
    ``dry_run=True`` still returns the would-drop list for audit:
    audit first, expire second).  The null partition
    (``__HIVE_DEFAULT_PARTITION__``) is kept unless ``drop_null=True``.
    Returns the sorted list of dropped values.

    Scale shape: one directory listing + one delete per expired
    partition, all through Hadoop FileSystem (file://, hdfs://,
    s3a://); no data scan, cost proportional to partitions dropped.
    Idempotent: a crash mid-sweep leaves fewer partitions for the
    re-run to drop.
    """
    base = path.rstrip("/")
    fs = HadoopFs(spark, base)
    prefix = partition_col + "="
    names: list[tuple[str, str]] = []
    for name in fs.listdir(base):
        if name.startswith(prefix):
            names.append((urllib.parse.unquote(name[len(prefix):]), name))
    # misuse guard: lexicographic < is only meaningful when every value
    # and the cutoff share one sortable shape — equal string length
    # covers ISO dates, ISO timestamps, and zero-padded numbers.  Mixed
    # lengths (day=9 vs day=10) silently expire the wrong set, so the
    # sweep refuses to DELETE; dry_run still reports for audit.
    shapes = {len(v) for v, _ in names if v != _NULL_PARTITION_DIR}
    shapes.add(len(cutoff))
    if len(shapes) > 1 and not dry_run:
        raise ValueError(
            "expire_partitions: partition values and cutoff have mixed "
            f"string lengths {sorted(shapes)} — lexicographic comparison "
            "is unsafe (e.g. day=9 vs day=10). Zero-pad the layout, or "
            "audit with dry_run=True first."
        )
    dropped: list[str] = []
    for value, name in names:
        if value == _NULL_PARTITION_DIR:
            if not drop_null:
                continue
        elif value >= cutoff:
            continue
        dropped.append(value)
        if not dry_run:
            fs.delete(f"{base}/{name}")
    return sorted(dropped)
