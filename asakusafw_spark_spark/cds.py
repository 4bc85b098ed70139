"""Driver JVM start-up from a host-local class-data-sharing (CDS) archive.

A fresh driver JVM loads and verifies thousands of classes from the
~290 Spark jars before the first job runs.  The JDK (17+ under Spark 4)
can dump the classes a run loaded into a dynamic AppCDS archive at exit
(``-XX:ArchiveClassesAtExit``) and map it at the next start
(``-XX:SharedArchiveFile``), which roughly halves both session start and
the first job.  :func:`plan_launch` decides what
one launch does; :func:`finish_dump` promotes the archive after the JVM
of a dumping launch has exited.

- The archive lives in ``$XDG_CACHE_HOME/asakusafw_spark_spark/`` (or
  ``~/.cache/...``) as ``driver-<key>-<bytes>.jsa``.  The key is a
  stat-only digest of the JDK, the Spark jar directory (name, size and
  mtime of each jar) and the classpath conf; ``<bytes>`` is the size
  at promotion, checked before each load, because the JVM crashes
  (SIGBUS) on a torn archive instead of falling back.
- A dump is written to a per-process temp file and promoted with one
  ``os.replace`` only when the JVM exited 0 and the file carries the
  archive magic.  After a promotion, and at each launch that maps an
  archive, every other archive (of other keys, torn, or a second one
  of the same key) and the temp files of ended processes are pruned.
- CDS rejects a non-empty directory on the classpath, and Spark puts
  its conf dir there.  A conf dir holding nothing but ``*.template``
  files is swapped for an empty one under the cache; a conf dir with a
  real file (``spark-defaults.conf``, ``spark-env.sh``, ...) turns CDS
  off for the launch, so user conf is never dropped.
- ``-Xshare:off`` (or an own ``SharedArchiveFile`` /
  ``ArchiveClassesAtExit``) in the caller's driver options opts out.
"""

from __future__ import annotations

import hashlib
import logging
import os
import re
import shutil
import subprocess
from dataclasses import dataclass

from pyspark.find_spark_home import _find_spark_home

_LOG = logging.getLogger("asakusafw_spark_spark.session")

#: driver option confs the engine merges into / reads opt-outs from
DEFAULT_OPTS = "spark.driver.defaultJavaOptions"
_OPT_CONFS = (DEFAULT_OPTS, "spark.driver.extraJavaOptions")
# other places the driver JVM takes options from
_OPT_ENV = ("PYSPARK_SUBMIT_ARGS", "SPARK_SUBMIT_OPTS", "JDK_JAVA_OPTIONS",
            "JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS")
_OPT_OUT = re.compile(r"-Xshare:off|SharedArchiveFile|ArchiveClassesAtExit")
# classpath entries the Spark launcher adds from the environment
_CLASSPATH_ENV = ("SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR")
# the JVM logs CDS warnings (one per signed jar while dumping, one for a
# stale archive before it falls back) to stdout
_QUIET = "-Xlog:cds*=off"
# CDS_DYNAMIC_ARCHIVE_MAGIC 0xf00baba8, little-endian
_MAGIC = b"\xa8\xab\x0b\xf0"
_ARCHIVE = re.compile(r"driver-([0-9a-f]{16})-(\d+)\.jsa")
_TEMP = re.compile(r"driver-[0-9a-f]{16}\.(\d+)\.tmp")
# how long interpreter exit waits for the JVM to write its archive
# (~16 s measured on a slow 4-core host)
_DUMP_WAIT_S = 120


@dataclass(frozen=True)
class LaunchPlan:
    """What one driver launch does: ``mode`` is ``"hit"`` (map
    ``archive``), ``"dump"`` (write ``temp`` at exit) or ``"off"``."""

    mode: str
    reason: str = ""
    java_options: str = ""
    conf_dir: str | None = None  # SPARK_CONF_DIR to launch with
    cache_dir: str | None = None
    key: str | None = None
    archive: str | None = None
    temp: str | None = None

    def describe(self) -> str:
        if self.mode == "hit":
            return f"driver JVM class-data sharing: mapping {self.archive}"
        if self.mode == "dump":
            return (f"driver JVM class-data sharing: no archive for key {self.key},"
                    f" dumping one at exit (one-time) into {self.cache_dir}")
        return f"driver JVM class-data sharing: off ({self.reason})"


def cache_dir(environ=os.environ) -> str:
    base = environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache")
    return os.path.join(base, "asakusafw_spark_spark")


def _java_home(environ) -> str | None:
    """The JDK ``bin/spark-class`` runs: ``$JAVA_HOME`` or ``java`` on PATH."""
    if environ.get("JAVA_HOME"):
        return environ["JAVA_HOME"]
    java = shutil.which("java", path=environ.get("PATH"))
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def archive_key(java_home: str, jars_dir: str, classpath: list[str]) -> str:
    """Stat-only digest of what a dynamic archive is tied to: the JVM
    build, every jar's name/size/mtime and the extra classpath."""
    h = hashlib.sha256()
    for rel in ("release", "lib/modules", "lib/server/libjvm.so"):
        try:
            st = os.stat(os.path.join(java_home, rel))
        except FileNotFoundError:
            st = None
        h.update(f"{rel}\0{st and st.st_size}\0{st and st.st_mtime_ns}\n".encode())
    for e in sorted(os.scandir(jars_dir), key=lambda e: e.name):
        st = e.stat()
        h.update(f"{e.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    h.update("\0".join(classpath).encode())
    return h.hexdigest()[:16]


def _whole(path: str, named_size: str) -> bool:
    try:
        return os.stat(path).st_size == int(named_size)
    except OSError:
        return False


def find_archive(cache: str, key: str) -> str | None:
    """A promoted archive for ``key`` whose size still matches the one
    recorded in its name, or None."""
    try:
        names = os.listdir(cache)
    except OSError:
        return None
    for name in names:
        m = _ARCHIVE.fullmatch(name)
        path = os.path.join(cache, name)
        if m and m.group(1) == key and _whole(path, m.group(2)):
            return path
    return None


def plan_launch(options: dict[str, str], environ=os.environ,
                gateway=None) -> LaunchPlan | None:
    """Decide how the driver JVM this process is about to launch starts.

    ``options`` are the builder's confs.  Returns None when this
    process launches no JVM (``gateway`` is already up, or
    ``PYSPARK_GATEWAY_PORT`` points at someone else's); otherwise a
    plan whose ``java_options`` are the caller's ``defaultJavaOptions``
    with the engine's flags appended.
    """
    if gateway is not None or "PYSPARK_GATEWAY_PORT" in environ:
        return None
    given = [options.get(k, "") for k in _OPT_CONFS] + [environ.get(k, "") for k in _OPT_ENV]
    m = _OPT_OUT.search(" ".join(given))
    if m:
        return LaunchPlan("off", f"caller sets {m.group(0)}")
    spark_home = environ.get("SPARK_HOME") or _find_spark_home()
    jars_dir = os.path.join(spark_home, "jars")
    java_home = _java_home(environ)
    if not os.path.isdir(jars_dir):
        return LaunchPlan("off", f"no jar directory {jars_dir}")
    if java_home is None:
        return LaunchPlan("off", "no java on PATH and no JAVA_HOME")
    conf_dir = environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        real = sorted(n for n in os.listdir(conf_dir) if not n.endswith(".template"))
    except FileNotFoundError:
        real = []
    except OSError as e:
        return LaunchPlan("off", f"conf dir unreadable: {e}")
    if real:
        return LaunchPlan("off", f"conf dir {conf_dir} holds {real[0]}")
    cache = cache_dir(environ)
    empty = os.path.join(cache, "empty-conf")
    try:
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty):
            return LaunchPlan("off", f"{empty} is not empty")
    except OSError as e:
        return LaunchPlan("off", f"cache dir unusable: {e}")
    classpath = [options.get("spark.driver.extraClassPath", "")]
    classpath += [environ.get(k, "") for k in _CLASSPATH_ENV]
    key = archive_key(java_home, jars_dir, classpath)
    archive = find_archive(cache, key)
    if archive is not None:
        # archives of this key other than the one mapped (two launches
        # that both dumped into an empty cache) are never mapped again
        prune(cache, key, keep=archive)
        mode, flag, temp = "hit", f"-XX:SharedArchiveFile={archive}", None
    elif os.access(cache, os.W_OK):
        temp = os.path.join(cache, f"driver-{key}.{os.getpid()}.tmp")
        mode, flag = "dump", f"-XX:ArchiveClassesAtExit={temp}"
    else:
        return LaunchPlan("off", f"cache dir {cache} is not writable")
    caller = options.get(DEFAULT_OPTS, "")
    return LaunchPlan(mode, java_options=" ".join(filter(None, (caller, flag, _QUIET))),
                      conf_dir=empty, cache_dir=cache, key=key, archive=archive,
                      temp=temp)


def promote(plan: LaunchPlan, returncode: int | None) -> str | None:
    """Move a dumping launch's temp archive into place when the JVM
    exited 0 and the file is a whole archive; remove it otherwise.
    Returns the promoted path."""
    temp = plan.temp
    try:
        with open(temp, "rb") as f:
            whole = returncode == 0 and f.read(4) == _MAGIC
        if not whole:
            os.remove(temp)
            return None
        path = os.path.join(plan.cache_dir, f"driver-{plan.key}-{os.stat(temp).st_size}.jsa")
        os.replace(temp, path)
    except OSError:
        return None
    return path


def prune(cache: str, key: str, keep: str | None = None) -> None:
    """Remove archives of other keys, archives whose size no longer
    matches their name, archives of ``key`` other than ``keep`` (when
    given), and temp files of processes that have ended."""
    for name in os.listdir(cache):
        path = os.path.join(cache, name)
        a, t = _ARCHIVE.fullmatch(name), _TEMP.fullmatch(name)
        if ((a and (a.group(1) != key or not _whole(path, a.group(2))
                    or (keep is not None and path != keep)))
                or (t and not _alive(int(t.group(1))))):
            try:
                os.remove(path)
            except OSError:
                pass


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def finish_dump(plan: LaunchPlan, proc: subprocess.Popen) -> None:
    """At interpreter exit: end the dumping JVM (it exits when its stdin
    closes), wait for its archive and promote it."""
    try:
        proc.stdin.close()
        rc = proc.wait(timeout=_DUMP_WAIT_S)
    except subprocess.TimeoutExpired:
        _LOG.info("driver JVM class-data sharing: dump still running after %d s,"
                  " not promoted", _DUMP_WAIT_S)
        return
    path = promote(plan, rc)
    if path is None:
        _LOG.info("driver JVM class-data sharing: dump not promoted (JVM exit %s)", rc)
        return
    prune(plan.cache_dir, plan.key, keep=path)
    _LOG.info("driver JVM class-data sharing: promoted %s", path)
