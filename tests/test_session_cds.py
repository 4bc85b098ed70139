"""Driver JVM launch through the class-data-sharing archive
(``asakusafw_spark_spark.cds``): the launch decisions without a JVM,
then real launches in fresh subprocesses."""

import glob
import io
import json
import os
import subprocess
import sys

import pytest

from asakusafw_spark_spark import cds

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def homes(tmp_path):
    """A fake SPARK_HOME (two jars, a template-only conf dir), a fake JDK
    17 and an empty cache, as the environment ``plan_launch`` reads."""
    spark_home, java_home = tmp_path / "spark", tmp_path / "jdk"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "conf").mkdir()
    for name in ("a.jar", "b.jar"):
        (spark_home / "jars" / name).write_bytes(b"jar")
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("# example\n")
    java_home.mkdir()
    (java_home / "release").write_text('JAVA_VERSION="17.0.20"\n')
    return {
        "SPARK_HOME": str(spark_home),
        "JAVA_HOME": str(java_home),
        "XDG_CACHE_HOME": str(tmp_path / "cache"),
    }


def driver_options(options, plan):
    """The options the driver JVM ends up with: Spark puts
    ``defaultJavaOptions`` before ``extraJavaOptions``."""
    return f"{plan.java_options} {options.get('spark.driver.extraJavaOptions', '')}"


def test_template_only_conf_dir_is_redirected(homes):
    plan = cds.plan_launch({}, homes)
    assert plan.mode == "dump"
    assert plan.conf_dir == os.path.join(cds.cache_dir(homes), "empty-conf")
    assert os.listdir(plan.conf_dir) == []
    assert f"-XX:ArchiveClassesAtExit={plan.temp}" in plan.java_options
    assert "-Xlog:cds*=off" in plan.java_options


def test_real_conf_dir_gets_no_flags_and_no_redirect(homes):
    conf = os.path.join(homes["SPARK_HOME"], "conf", "spark-defaults.conf")
    with open(conf, "w") as f:
        f.write("spark.executor.memory 2g\n")
    plan = cds.plan_launch({}, homes)
    assert plan.mode == "off" and "spark-defaults.conf" in plan.reason
    assert plan.java_options == "" and plan.conf_dir is None


def test_caller_java_options_survive(homes):
    options = {
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=/work/tmp",
        "spark.driver.defaultJavaOptions": "-Dcaller.flag=1",
    }
    plan = cds.plan_launch(options, homes)
    effective = driver_options(options, plan)
    assert "-Djava.io.tmpdir=/work/tmp" in effective
    assert "-Dcaller.flag=1" in effective
    assert "-XX:ArchiveClassesAtExit=" in effective


@pytest.mark.parametrize("flag", ["-Xshare:off", "-XX:SharedArchiveFile=/own.jsa"])
def test_caller_cds_flags_disable_the_engine(homes, flag):
    plan = cds.plan_launch({"spark.driver.extraJavaOptions": f"-Dx=1 {flag}"}, homes)
    assert plan.mode == "off" and plan.java_options == ""


def test_key_follows_jar_size_and_mtime(homes):
    jar = os.path.join(homes["SPARK_HOME"], "jars", "a.jar")
    key = cds.plan_launch({}, homes).key
    st = os.stat(jar)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    touched = cds.plan_launch({}, homes).key
    with open(jar, "ab") as f:
        f.write(b"more")
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    grown = cds.plan_launch({}, homes).key
    assert len({key, touched, grown}) == 3
    assert cds.plan_launch({}, homes).key == grown


def test_existing_gateway_or_gateway_port_adds_nothing(homes):
    assert cds.plan_launch({}, homes, gateway=object()) is None
    assert cds.plan_launch({}, {**homes, "PYSPARK_GATEWAY_PORT": "4040"}) is None


def test_unusable_cache_dir_starts_normally(homes, tmp_path):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    plan = cds.plan_launch({}, {**homes, "XDG_CACHE_HOME": str(blocker)})
    assert plan.mode == "off" and plan.java_options == ""


def test_archive_is_passed_only_when_its_size_matches(homes):
    key = cds.plan_launch({}, homes).key
    cache = cds.cache_dir(homes)
    torn = os.path.join(cache, f"driver-{key}-1000.jsa")
    with open(torn, "wb") as f:
        f.write(b"\xa8\xab\x0b\xf0" + b"\0" * 96)  # 100 of 1000 bytes
    plan = cds.plan_launch({}, homes)
    assert plan.mode == "dump" and torn not in plan.java_options
    os.truncate(torn, 1000)
    plan = cds.plan_launch({}, homes)
    assert plan.mode == "hit" and f"-XX:SharedArchiveFile={torn}" in plan.java_options


def test_promote_only_a_whole_dump_from_a_clean_exit(homes):
    plan = cds.plan_launch({}, homes)
    whole = b"\xa8\xab\x0b\xf0" + b"\1" * 60

    def dump(data):
        with open(plan.temp, "wb") as f:
            f.write(data)

    dump(whole)
    assert cds.promote(plan, returncode=1) is None
    assert not os.path.exists(plan.temp)
    dump(b"\0" * 64)  # no archive magic
    assert cds.promote(plan, returncode=0) is None
    assert cds.promote(plan, returncode=0) is None  # no temp file at all
    dump(whole)
    path = cds.promote(plan, returncode=0)
    assert path == os.path.join(plan.cache_dir, f"driver-{plan.key}-64.jsa")
    assert cds.plan_launch({}, homes).archive == path


def test_prune_keeps_whole_archives_of_the_key_and_live_temps(homes):
    cache = cds.cache_dir(homes)
    os.makedirs(cache)
    ended = subprocess.Popen(["true"])
    ended.wait()
    key = "00000000000000aa"
    names = {
        "keep": f"driver-{key}-4.jsa",
        "torn": f"driver-{key}-8.jsa",
        "old_key": "driver-00000000000000bb-4.jsa",
        "live_temp": f"driver-{key}.{os.getpid()}.tmp",
        "dead_temp": f"driver-{key}.{ended.pid}.tmp",
    }
    for name in names.values():
        with open(os.path.join(cache, name), "wb") as f:
            f.write(b"1234")
    cds.prune(cache, key)
    assert sorted(os.listdir(cache)) == sorted([names["keep"], names["live_temp"]])


def test_second_promotion_of_a_key_replaces_the_first(homes):
    """Two launches that both found no archive both dump; the later
    promotion leaves the only archive of the key."""

    class Exited:  # a dumping JVM that wrote its archive and exited 0
        stdin = io.StringIO()

        def wait(self, timeout):
            return 0

    plan = cds.plan_launch({}, homes)
    for size in (64, 96):
        with open(plan.temp, "wb") as f:
            f.write(b"\xa8\xab\x0b\xf0" + b"\1" * (size - 4))
        cds.finish_dump(plan, Exited())
    kept = f"driver-{plan.key}-96.jsa"
    assert sorted(glob.glob(os.path.join(plan.cache_dir, "*.jsa"))) == [
        os.path.join(plan.cache_dir, kept)]
    assert cds.plan_launch({}, homes).archive == os.path.join(plan.cache_dir, kept)


def test_a_launch_that_maps_an_archive_prunes_the_keys_other_archives(homes):
    """Two whole archives of one key (both made before promotion pruned
    its duplicates): the launch that maps one removes the other."""
    key = cds.plan_launch({}, homes).key
    cache = cds.cache_dir(homes)
    for size in (64, 96):
        with open(os.path.join(cache, f"driver-{key}-{size}.jsa"), "wb") as f:
            f.write(b"\xa8\xab\x0b\xf0" + b"\1" * (size - 4))
    plan = cds.plan_launch({}, homes)
    assert plan.mode == "hit"
    assert glob.glob(os.path.join(cache, "*.jsa")) == [plan.archive]
    assert cds.plan_launch({}, homes).archive == plan.archive


# -- real launches ------------------------------------------------------

LAUNCH = """
import json, logging, sys
logging.basicConfig(level=logging.INFO, stream=sys.stderr)
from asakusafw_spark_spark import get_spark
spark = get_spark(app_name="cds_test", master="local[1]",
                  extra_conf={"spark.driver.memory": "512m"})
rows = spark.range(1000).selectExpr("sum(id) AS s").collect()[0].s
pid = spark._jvm.java.lang.ProcessHandle.current().pid()
with open(f"/proc/{pid}/maps") as f:
    mapped = sorted({l.split()[-1] for l in f if "/driver-" in l})
print(json.dumps({"rows": rows, "mapped": mapped}))
spark.stop()
"""


def launch(cache_home):
    env = {k: v for k, v in os.environ.items() if not k.startswith("PYSPARK_GATEWAY")}
    env |= {"XDG_CACHE_HOME": str(cache_home), "PYTHONPATH": ROOT}
    p = subprocess.run([sys.executable, "-c", LAUNCH], env=env, cwd=ROOT,
                       capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    assert "[cds" not in p.stdout and "[warning][cds" not in p.stderr
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stderr


def test_archive_promoted_then_mapped_and_torn_files_ignored(tmp_path):
    cache = tmp_path / "asakusafw_spark_spark"
    first, log = launch(tmp_path)
    assert "dumping one at exit" in log and first["mapped"] == []
    (archive,) = glob.glob(str(cache / "driver-*.jsa"))

    second, log = launch(tmp_path)
    assert "mapping" in log
    assert second == {"rows": first["rows"], "mapped": [archive]}

    # a torn archive under the promoted name, another at an ended
    # process's temp path: neither is loaded nor promoted
    size = os.path.getsize(archive)
    os.truncate(archive, size // 3)
    ended = subprocess.Popen(["true"])
    ended.wait()
    key = os.path.basename(archive).split("-")[1]
    temp = cache / f"driver-{key}.{ended.pid}.tmp"
    with open(archive, "rb") as src, open(temp, "wb") as dst:
        dst.write(src.read())
    third, log = launch(tmp_path)
    assert "dumping one at exit" in log
    assert third == {"rows": first["rows"], "mapped": []}
    assert not temp.exists()
    (fresh,) = glob.glob(str(cache / "driver-*.jsa"))  # the torn one is pruned
    assert os.path.getsize(fresh) == int(fresh.rsplit("-", 1)[1][:-len(".jsa")])
