"""Engine-tuned SparkSession factory.

The reference forces Kryo + a registrator and sizes parallelism from
data-size classes (runtime/src/main/scala/com/asakusafw/spark/runtime/
SparkClient.scala:119-121, planner/.../PartitionGroupAnalyzer.java:55-110).
On Spark SQL none of that is needed: Tungsten UnsafeRow replaces Kryo and
AQE replaces static partition sizing.  What we DO pin down:

- AQE on (runtime coalescing + skew-join handling) — replaces the
  reference's TINY/SMALL/REGULAR/LARGE/HUGE partition-count classes.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster leave AQE to coalesce from a high initial count.
- UTC session timezone so results compare bit-for-bit with the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for the Pandas-UDF slow path.
- ``autoBroadcastJoinThreshold`` = 20 MiB to honor the reference's
  "TINY" broadcast limit (PartitionGroupAnalyzer.java:68-78).

Launch cost: when ``getOrCreate`` starts the driver JVM in this process
(no gateway yet, no ``PYSPARK_GATEWAY_PORT``), the JVM starts from a
class-data-sharing archive kept per host (see :mod:`.cds`), which
roughly halves session start and the first job:

- Location: ``$XDG_CACHE_HOME/asakusafw_spark_spark/`` (default
  ``~/.cache/asakusafw_spark_spark/``), ~140-170 MB.
- Key: the JDK, the name/size/mtime of every jar in ``$SPARK_HOME/jars``
  and the extra classpath; a change starts a new archive and prunes the
  old one.
- Cost: the first launch for a key runs slower (the JVM records every
  class it loads) and dumps the archive when the interpreter exits
  (~10-16 s, after the work is done); later launches map it.
- Conf: the conf dir must hold only ``*.template`` files (then an empty
  dir is used instead); any real file there keeps the normal start.
- Opt out: ``-Xshare:off`` in ``spark.driver.extraJavaOptions`` (or
  ``spark.driver.defaultJavaOptions``).

One INFO line on the ``asakusafw_spark_spark.session`` logger per launch
says whether the archive was mapped, is being dumped, or is off and why.

Python workers: PySpark's worker re-reads the directory of every zip
archive on its ``sys.path`` (the spark-core jar, ``pyspark.zip``,
py4j) before each task, ~100 ms of every Python task (``mapInPandas``
group operators, pandas UDFs).  On a local master the builder starts
the workers from :mod:`.pydaemon`, which re-reads an archive only when
it changed: ``spark.python.daemon.module`` names it and the package's
parent directory is appended to ``spark.executorEnv.PYTHONPATH`` (a
caller's entries come first).  A caller's own daemon module or
``spark.python.use.daemon=false`` wins; opt out with
``spark.python.daemon.module=pyspark.daemon``.  Other masters are left
as they are: there the package may arrive by ``--py-files``, which a
daemon cannot import.
"""

from __future__ import annotations

import atexit
import logging
import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

from . import cds

_LOG = logging.getLogger("asakusafw_spark_spark.session")

#: Reference "TINY" broadcast size limit, 20 MiB
#: (planner/.../PartitionGroupAnalyzer.java:68-78).
TINY_BROADCAST_BYTES = 20 * 1024 * 1024

_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


class _EngineBuilder(SparkSession.Builder):
    """A builder whose ``getOrCreate`` launches the driver JVM through
    the class-data-sharing archive when it launches one at all."""

    def getOrCreate(self) -> SparkSession:
        with self._lock:
            plan = cds.plan_launch(self._options, gateway=SparkContext._gateway)
            if plan is not None:
                _LOG.info(plan.describe())
            if plan is None or plan.mode == "off":
                return super().getOrCreate()
            self._options[cds.DEFAULT_OPTS] = plan.java_options
            saved = os.environ.get("SPARK_CONF_DIR")
            os.environ["SPARK_CONF_DIR"] = plan.conf_dir
            try:
                spark = super().getOrCreate()
            finally:
                if saved is None:
                    del os.environ["SPARK_CONF_DIR"]
                else:
                    os.environ["SPARK_CONF_DIR"] = saved
            proc = getattr(SparkContext._gateway, "proc", None)
            if plan.mode == "dump" and proc is not None:
                atexit.register(cds.finish_dump, plan, proc)
            return spark


def engine_builder(
    app_name: str = "asakusafw_spark_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession.Builder:
    """Return a SparkSession builder with the engine defaults applied.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    when no cluster master is configured; on a real cluster pass
    ``master=None`` with ``spark.master`` already set by spark-submit.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = max(os.cpu_count() or 8, 8)

    b = (
        _EngineBuilder().appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 50k-row Arrow batches: the streaming cogroup pays per-batch
        # Python overhead, so fewer/larger batches win (~20% on grouped
        # stages); memory bound = batch-rows × row-width per worker.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(TINY_BROADCAST_BYTES))
        # answer MIN/MAX/COUNT-only scans from parquet footer statistics
        # (no row materialization); runtime bloom-filter join pruning and
        # dynamic partition pruning are already on by default in Spark 4
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # let AQE re-optimize (coalesce/skew-split) ABOVE persisted
        # frames: default-false only for plan-shape stability, results
        # are unaffected.  Every _persist consumer (iterative rounds,
        # dedup family, CC loop) otherwise runs its post-cache stages at
        # the static partition count — measured 25% off
        # iterative_transactional_output (1.86→1.24 s interleaved, r16)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    conf = dict(extra_conf or {})
    if master.startswith("local"):
        conf.update(_python_worker_conf(conf))
    for k, v in conf.items():
        b = b.config(k, v)
    return b


def _python_worker_conf(conf: dict[str, str]) -> dict[str, str]:
    """The confs that start Python workers from :mod:`.pydaemon`, merged
    with the caller's ``conf``; none when the caller picks the daemon."""
    if ("spark.python.daemon.module" in conf
            or conf.get("spark.python.use.daemon", "true").lower() == "false"):
        return {}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in conf.get(_PYTHONPATH, "").split(os.pathsep) if p]
    if root not in paths:
        paths.append(root)
    return {
        "spark.python.daemon.module": f"{__package__}.pydaemon",
        _PYTHONPATH: os.pathsep.join(paths),
    }


def get_spark(**kwargs) -> SparkSession:
    """Get-or-create the engine SparkSession."""
    spark = engine_builder(**kwargs).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
