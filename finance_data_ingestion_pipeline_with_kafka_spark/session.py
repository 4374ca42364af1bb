"""SparkSession factory tuned for this engine.

Scale posture (100 TB readiness — SURVEY §4, §7):

* AQE on: runtime partition coalescing, skew-join splitting, join-strategy
  re-planning from actual stats.
* UTC session timezone: timestamp semantics stable across drivers/oracles.
* Arrow-backed pandas interchange for the (rare) Pandas-UDF paths.
* ``shuffle.partitions`` is a knob, not a constant — callers size it to the
  cluster; the local default keeps small-SF latency low while AQE coalesces.
* Local masters write streaming checkpoints through Spark's FileSystem-based
  checkpoint file manager. pip PySpark ships no native libhadoop, so
  Hadoop's local filesystem shells out for ``readlink`` on every
  FileContext rename and for ``chmod`` on every file create. Spark's
  default FileContext manager renames each checkpoint file (and its
  ``.crc``) that way, several forks per file per micro-batch. The
  FileSystem manager renames with ``File.renameTo`` (POSIX ``rename(2)``),
  which on a local disk is as atomic as FileContext's own local rename
  (check, then rename). Checkpoint checksums and ``.crc`` files stay on.
  Cluster masters keep Spark's default, so HDFS keeps its atomic
  ``FileContext.rename``.

* The driver JVM starts from a class-data-sharing archive (JDK dynamic
  AppCDS), so it maps Spark's pre-parsed, pre-verified classes instead of
  loading them from the 287 jars on every start. The archive lives in
  ``${XDG_CACHE_HOME:-~/.cache}/finance_engine/jvm-cds/``, outside any
  per-run lake, temp or local dir, so it survives fresh checkouts and
  runs that delete their scratch space. It is named by a stamp: the
  ``java.home`` realpath and its ``release`` file (the JDK version), and
  every ``$SPARK_HOME/jars/*.jar`` with its size and mtime, so a JDK or
  jar change yields a new name and a stale archive is never asked for.
  The first session with no archive for its stamp dumps one at JVM exit
  (``-XX:ArchiveClassesAtExit=<stamp>.<pid>.part``), and an ``atexit``
  hook publishes it with ``os.replace`` to ``<stamp>.jsa`` only after that
  JVM exited with code 0. An unpublished ``.part`` is never mapped (the
  JVM dies with SIGBUS on a truncated archive); ``.part`` files whose
  writer pid is dead are deleted, and while a live session is writing
  one, others start without CDS rather than dump a second copy. Later
  sessions map it (``-XX:SharedArchiveFile=<stamp>.jsa``). The first
  session on a new machine or JDK runs slower once while it records.
  The JDK refuses to dump when the classpath holds a non-empty
  directory, and Spark's launcher puts ``$SPARK_CONF_DIR`` on it: when
  that dir holds only ``*.template`` files, the launch points
  ``SPARK_CONF_DIR`` at an empty dir under the cache (the caller's
  environment is restored after it); when it holds a real file, or
  another directory can reach the classpath, the session runs without
  CDS. Flags are appended to any ``spark.driver.extraJavaOptions`` the
  caller passes; options already naming ``-Xshare``,
  ``SharedArchiveFile`` or ``ArchiveClassesAtExit`` get nothing added, so
  ``-Xshare:off`` opts out. A JVM already running (a second
  ``get_spark`` in one process, or a driver started by ``spark-submit``)
  is left as it is.

On a real cluster the same builder is used with master/memory provided by
the deployer; nothing here assumes local mode.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import shutil
import subprocess
import threading

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

#: Checkpoint file manager for local masters (see the module docstring).
LOCAL_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

JAVA_OPTIONS_KEY = "spark.driver.extraJavaOptions"
#: Options that already decide class data sharing; a caller's use of any
#: of them leaves the launch as it is (see the module docstring).
_CDS_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
#: Environment variables through which Spark's launcher can put a
#: directory on the driver's classpath, where the JDK refuses to dump.
_CLASSPATH_VARS = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                   "SPARK_PREPEND_CLASSES", "SPARK_TESTING")
#: The JVM logs one line per class it cannot archive (Janino's signed jar
#: alone gives hundreds) to stdout at exit, after a caller's last output.
_CDS_QUIET = "-Xlog:cds*=off"
#: How long interpreter exit waits for a dumping JVM to write its archive.
_CDS_EXIT_WAIT_S = 60
_LAUNCH_LOCK = threading.Lock()


def cds_dir() -> str:
    """The directory holding the driver JVM's class-data-sharing archives."""
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(cache, "finance_engine", "jvm-cds")


def cds_archive(spark_home: str) -> str | None:
    """Path of the archive for the JDK Spark's launcher runs and the jars
    in ``spark_home``, whether or not it exists yet; None when the JDK or
    the jars cannot be read."""
    java_home = os.environ.get("JAVA_HOME")
    if not java_home:
        java = shutil.which("java")
        if java is None:
            return None
        java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    java_home = os.path.realpath(java_home)
    stamp = hashlib.sha256(java_home.encode() + b"\0")
    try:
        with open(os.path.join(java_home, "release"), "rb") as f:
            stamp.update(f.read())
        with os.scandir(os.path.join(spark_home, "jars")) as it:
            jars = sorted((e.name, e.stat()) for e in it if e.name.endswith(".jar"))
    except OSError:
        return None
    for name, st in jars:
        stamp.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return os.path.join(cds_dir(), stamp.hexdigest()[:24] + ".jsa")


def _sweep_parts(archive: str) -> bool:
    """Delete the unpublished dumps of ``archive`` whose writer pid is
    dead; True when a live writer's dump remains."""
    prefix = os.path.basename(archive)[: -len(".jsa")] + "."
    live = False
    for name in os.listdir(os.path.dirname(archive)):
        if not (name.startswith(prefix) and name.endswith(".part")):
            continue
        try:
            os.kill(int(name[len(prefix): -len(".part")]), 0)
            live = True
        except (ValueError, ProcessLookupError):
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(os.path.dirname(archive), name))
        except PermissionError:
            live = True
    return live


def _cds_launch(java_options: str) -> tuple[str, str, str | None] | None:
    """For a driver JVM about to start: the archive flag to append, the
    ``SPARK_CONF_DIR`` to launch with, and the ``.part`` it dumps to (None
    when it maps a published archive). None when this launch runs
    without class data sharing."""
    if any(f in java_options for f in _CDS_FLAGS):
        return None
    if any(os.environ.get(v) for v in _CLASSPATH_VARS):
        return None
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        names = os.listdir(conf_dir)
    except FileNotFoundError:
        names = []
    except OSError:
        return None
    if any(not n.endswith(".template") for n in names):
        return None
    archive = cds_archive(spark_home)
    if archive is None:
        return None
    empty_conf = os.path.join(cds_dir(), "conf")
    try:
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf) or not os.access(cds_dir(), os.W_OK):
            return None
        writing = _sweep_parts(archive)
    except OSError:
        return None
    if os.path.isfile(archive):
        return f"-XX:SharedArchiveFile={archive} {_CDS_QUIET}", empty_conf, None
    if writing:
        return None
    part = f"{archive[: -len('.jsa')]}.{os.getpid()}.part"
    return f"-XX:ArchiveClassesAtExit={part} {_CDS_QUIET}", empty_conf, part


def _publish_archive(proc: subprocess.Popen, part: str) -> None:
    """At interpreter exit: end the driver JVM that dumps ``part``, and
    publish the archive only if that JVM exited with code 0."""
    if proc.poll() is None:
        proc.stdin.close()
        try:
            proc.wait(timeout=_CDS_EXIT_WAIT_S)
        except subprocess.TimeoutExpired:
            return  # still writing: swept by a later session once this pid is gone
    with contextlib.suppress(FileNotFoundError):
        if proc.returncode == 0:
            os.replace(part, part.rsplit(".", 2)[0] + ".jsa")  # drop ".<pid>.part"
        else:
            os.remove(part)


@contextlib.contextmanager
def _environ(name: str, value: str):
    """Set one environment variable for the block, then restore it."""
    old = os.environ.get(name)
    os.environ[name] = value
    try:
        yield
    finally:
        if old is None:
            del os.environ[name]
        else:
            os.environ[name] = old


def get_spark(
    app_name: str = "finance-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("ENGINE_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at Spark's default (true): coalescing by
        # advisory SIZE alone (false) was measured strangling CPU-heavy
        # reduce stages — at 30× bench volume it coalesced window/sort
        # shuffles to ~3 64 MB partitions on a 32-core box (asof_join
        # 4.7→3.7 s, window_rank_topk 4.3→1.6 s, tfidf 6.4→2.8 s when
        # reverted to true; 1× unchanged). minPartitionSize still guards
        # against sliver partitions at cluster scale.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE runtime shuffle→broadcast conversion threshold, raised from
        # its 10 MB default to 32 MB. Unlike the STATIC threshold (left at
        # 10 MB — planning-time size estimates are unreliable), the
        # adaptive check reads the EXACT shuffle bytes a side produced, so
        # raising it is scale-safe by construction: a side measuring over
        # 32 MB never converts. Measured: TPC-H-Q3-shaped top_revenue
        # (filtered customer⋈orders side ~18 MB at 30×) 1.41 s → 1.03 s
        # at 30× and 0.67 s → 0.36 s at 1×, with the queries whose build
        # sides exceed the limit (regional_revenue at 30×) unchanged.
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "33554432")
        # runtime row-level filtering: inject a bloom filter built from the
        # selective side of a shuffle join into the big side's scan — at
        # lake scale this prunes most of the probe-side IO for
        # dim-filtered fact joins (no-op when the build side is too large)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # generated-class cache sized to the CATALOG, not to one query:
        # Spark's default keeps only 100 compiled codegen units, and a
        # 130-query catalog (≫100 whole-stage units) thrashes it — every
        # query re-runs Janino compilation on every invocation. Measured
        # at sf0.1 (20-query interleaved bench loop): scan-agg family
        # 6.3 s → 3.3 s and dedup family 12.5 s → 8.7 s from this one
        # setting. Cost is metaspace for the cached small classes (a few
        # MB); static conf, so it must be set at session build. Resized
        # 2000 → 4096 when the catalog reached 200 queries (~8 units
        # each ≈ 1600 entries left the full-sweep loop within 20% of
        # eviction; same cost model, double the margin).
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # events.parquet carries TIMESTAMP(NANOS), which Spark rejects by
        # default; read nanos as long (catalog.load_table truncates to µs).
        # Set here once at build; load_table re-asserts it defensively for
        # externally built sessions (e.g. the driver's vanilla session).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("ENGINE_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local"):
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass", LOCAL_CHECKPOINT_FILE_MANAGER
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # Held across the launch: the SPARK_CONF_DIR swap is process-wide.
    with _LAUNCH_LOCK:
        cds = None
        if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
            java_options = (extra_conf or {}).get(JAVA_OPTIONS_KEY, "")
            cds = _cds_launch(java_options)
        if cds is None:
            return builder.getOrCreate()
        flag, conf_dir, part = cds
        builder = builder.config(JAVA_OPTIONS_KEY, f"{java_options} {flag}".strip())
        with _environ("SPARK_CONF_DIR", conf_dir):
            spark = builder.getOrCreate()
    proc = getattr(SparkContext._gateway, "proc", None)
    if part is not None and proc is not None:
        atexit.register(_publish_archive, proc, part)
    return spark
