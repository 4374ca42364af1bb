"""The driver JVM's class-data-sharing archive (``session.get_spark``).

The option tests read the builder's options through a monkeypatched
``getOrCreate``, so no JVM starts. The lifecycle test starts three fresh
driver JVMs in subprocesses, with the archive directory under
``tmp_path``.
"""

import json
import os
import subprocess
import sys

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

from finance_data_ingestion_pipeline_with_kafka_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: The driver options perfbench passes through ``extra_conf``.
PERFBENCH_OPTIONS = (
    "-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
    "-XX:TieredStopAtLevel=1 -Djava.io.tmpdir=/runs/x/tmp"
)


def _dead_pid() -> int:
    proc = subprocess.Popen(["true"])
    proc.wait(timeout=30)
    return proc.pid


@pytest.fixture
def spark_home(tmp_path, monkeypatch):
    """A Spark home with two jars and a conf dir of templates only."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "conf").mkdir()
    for name in ("a.jar", "b.jar"):
        (home / "jars" / name).write_bytes(b"jar " + name.encode())
    (home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    for name in session._CLASSPATH_VARS + ("PYSPARK_GATEWAY_PORT",):
        monkeypatch.delenv(name, raising=False)
    return home


@pytest.fixture
def launch(spark_home, monkeypatch):
    """``get_spark`` as the first session of a process: returns the
    builder's options plus the ``SPARK_CONF_DIR`` it launched under."""
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(
        SparkSession.Builder,
        "getOrCreate",
        lambda self: {**self._options, "SPARK_CONF_DIR": os.environ.get("SPARK_CONF_DIR")},
    )

    def run(java_options=None):
        extra = None if java_options is None else {session.JAVA_OPTIONS_KEY: java_options}
        return session.get_spark(master="local[1]", extra_conf=extra)

    return run


def test_archive_flag_is_appended_to_caller_options(launch, spark_home):
    """perfbench's options are all kept, the archive flag follows them, a
    missing archive is dumped to this pid's ``.part`` and a published one
    is mapped."""
    archive = session.cds_archive(str(spark_home))
    stamp = archive[: -len(".jsa")]
    dump = launch(PERFBENCH_OPTIONS)[session.JAVA_OPTIONS_KEY]
    assert dump.startswith(PERFBENCH_OPTIONS + " ")
    assert f"-XX:ArchiveClassesAtExit={stamp}.{os.getpid()}.part" in dump.split()
    assert "SharedArchiveFile" not in dump

    open(archive, "wb").close()
    mapped = launch(PERFBENCH_OPTIONS)[session.JAVA_OPTIONS_KEY]
    assert mapped.startswith(PERFBENCH_OPTIONS + " ")
    assert f"-XX:SharedArchiveFile={archive}" in mapped.split()
    assert "ArchiveClassesAtExit" not in mapped
    assert launch()[session.JAVA_OPTIONS_KEY].startswith("-XX:SharedArchiveFile=")


@pytest.mark.parametrize(
    "options", ["-Xshare:off", "-Xmx1g -XX:SharedArchiveFile=/elsewhere.jsa",
                "-XX:ArchiveClassesAtExit=/elsewhere.jsa"],
)
def test_caller_sharing_options_get_nothing_added(launch, options):
    launched = launch(options)
    assert launched[session.JAVA_OPTIONS_KEY] == options
    assert launched["SPARK_CONF_DIR"] is None


def test_real_conf_file_runs_without_archive(launch, spark_home, monkeypatch):
    """A conf dir Spark reads stays on the classpath as it is, and the
    JDK cannot dump with it there: no flag, no conf-dir swap."""
    conf = spark_home / "conf"
    (conf / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    assert session.JAVA_OPTIONS_KEY not in launch()
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    launched = launch(PERFBENCH_OPTIONS)
    assert launched[session.JAVA_OPTIONS_KEY] == PERFBENCH_OPTIONS
    assert launched["SPARK_CONF_DIR"] == str(conf)


@pytest.mark.parametrize("caller_conf_dir", [None, "conf"])
def test_environ_is_restored_after_launch(launch, spark_home, monkeypatch, caller_conf_dir):
    """The launch runs under the empty conf dir in the cache, and the
    caller's environment reads the same before and after."""
    if caller_conf_dir is not None:
        monkeypatch.setenv("SPARK_CONF_DIR", str(spark_home / caller_conf_dir))
    before = dict(os.environ)
    launched = launch(PERFBENCH_OPTIONS)
    assert launched["SPARK_CONF_DIR"] == os.path.join(session.cds_dir(), "conf")
    assert os.listdir(launched["SPARK_CONF_DIR"]) == []
    assert dict(os.environ) == before


def test_jar_size_or_mtime_renames_archive(spark_home):
    jar = spark_home / "jars" / "b.jar"
    first = session.cds_archive(str(spark_home))
    st = os.stat(jar)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    touched = session.cds_archive(str(spark_home))
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert session.cds_archive(str(spark_home)) == first
    with open(jar, "ab") as f:
        f.write(b"!")
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns))
    grown = session.cds_archive(str(spark_home))
    assert len({first, touched, grown}) == 3
    assert os.path.dirname(first) == session.cds_dir()


def test_unpublished_dumps_are_swept_by_writer_liveness(launch, spark_home):
    """A dead writer's ``.part`` is deleted; while a live writer's remains
    the session runs without CDS instead of dumping a second copy."""
    stamp = session.cds_archive(str(spark_home))[: -len(".jsa")]
    os.makedirs(session.cds_dir(), exist_ok=True)
    dead = f"{stamp}.{_dead_pid()}.part"
    live = f"{stamp}.{os.getppid()}.part"  # pytest's parent: alive
    for path in (dead, live):
        with open(path, "wb") as f:
            f.write(b"partial")
    assert launch(PERFBENCH_OPTIONS)[session.JAVA_OPTIONS_KEY] == PERFBENCH_OPTIONS
    assert not os.path.exists(dead)
    assert os.path.exists(live)


_SESSION = r"""
import json, os, sys
sys.path.insert(0, {repo!r})
from pyspark import SparkContext
from finance_data_ingestion_pipeline_with_kafka_spark.session import get_spark

spark = get_spark(app_name="cds-lifecycle", master="local[1]", shuffle_partitions=1)
assert spark.range(10).selectExpr("sum(id)").first()[0] == 45
pid = SparkContext._gateway.proc.pid
with open(f"/proc/{{pid}}/maps") as f:
    mapped = sorted({{ln.split()[-1] for ln in f if ln.rstrip().endswith((".jsa", ".part"))}})
with open(f"/proc/{{pid}}/cmdline") as f:
    flags = [a for a in f.read().split("\0") if a.startswith("-XX:") and "Archive" in a]
print(json.dumps({{"mapped": mapped, "flags": flags}}))
"""


def test_archive_lifecycle_in_fresh_jvms(tmp_path, monkeypatch):
    """Session 1 dumps and publishes ``<stamp>.jsa`` after exit 0 and
    leaves no ``.part``; session 2 maps it; a truncated ``.part`` of a
    dead pid is never given to a JVM and is removed, and with no
    published archive session 3 dumps a fresh one."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    if session._cds_launch("") is None:
        pytest.skip("this machine's Spark conf or classpath rules class data sharing out")
    from pyspark.find_spark_home import _find_spark_home

    archive = session.cds_archive(_find_spark_home())
    stamp, cds = archive[: -len(".jsa")], session.cds_dir()
    script = _SESSION.format(repo=REPO)

    def run_session() -> dict:
        out = subprocess.run(
            [sys.executable, "-c", script], capture_output=True, text=True, timeout=600
        )
        assert out.returncode == 0, out.stderr[-3000:]
        return json.loads(out.stdout.strip().splitlines()[-1])

    def parts() -> list[str]:
        return [n for n in os.listdir(cds) if n.endswith(".part")]

    first = run_session()
    assert len(first["flags"]) == 1 and first["flags"][0].startswith(
        f"-XX:ArchiveClassesAtExit={stamp}."
    )
    assert os.path.getsize(archive) > 1 << 20
    assert parts() == []

    truncated = f"{stamp}.{_dead_pid()}.part"
    with open(archive, "rb") as src, open(truncated, "wb") as dst:
        dst.write(src.read(1 << 20))
    second = run_session()
    assert second["flags"] == [f"-XX:SharedArchiveFile={archive}"]
    assert archive in second["mapped"]
    assert not any(m.endswith(".part") for m in second["mapped"])
    assert parts() == []

    os.remove(archive)
    truncated = f"{stamp}.{_dead_pid()}.part"
    with open(truncated, "wb") as f:
        f.write(b"\0" * (1 << 20))
    third = run_session()
    assert truncated not in " ".join(third["flags"] + third["mapped"])
    assert third["flags"][0].startswith(f"-XX:ArchiveClassesAtExit={stamp}.")
    assert os.path.getsize(archive) > 1 << 20
    assert parts() == []
