"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the 100 TB design point and merely parameterized
down for local testing:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and auto broadcast demotion/promotion.
- Arrow on: every pandas_udf / mapInPandas boundary is Arrow-batched.
- shuffle partitions sized to cores locally; on a real cluster this is
  overridden (or left to AQE's coalescing with a high initial value).
- each default yields to a conf spark-submit set for this driver.
- a master that spark-submit already set is kept; ``local[cpus]`` is
  only the default.
- on a local master, Python workers start from ``worker_daemon``, which
  imports pyspark from site-packages instead of Spark's zip archives.
- a local driver JVM that ``get_spark`` launches itself starts from a
  dynamic class-data archive (JDK AppCDS) in the user's cache, keyed by
  the JDK build and Spark's jars; the first session without one records
  it at exit. A conf dir holding a real file, an extra classpath, a
  ``spark-submit`` driver or an unwritable cache means a stock start.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import re
import shutil
import subprocess

from pyspark import SparkContext
from pyspark.sql import SparkSession

WORKER_DAEMON = "amazon_s3_find_and_forget_spark.worker_daemon"
# The directory (or --py-files zip) this package is imported from: the
# worker daemon is started with ``python -m``, before any task could
# ship the package, so the workers' path must already reach it.
IMPORT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_memory(mem_total_bytes: int | None = None) -> str:
    """Driver-heap default for local[N]: min(24g, half of MemTotal),
    floor 2g, in whole GiB.

    24g is the measured local[32] sweet spot (round 17: 12-22 s of GC
    per sf1 stage at 8g, 5-30% interleaved A/B win at 24g — in
    local[N] this one heap IS all N executors). But a flat 24g default
    would fail to launch (or swap) on a 16-32 GB host (r17 verdict ask
    #7), so the default is capped at half the machine: the other half
    stays for Python workers and the page cache, the same split the
    128 GB bench host runs at. ``SPARK_DRIVER_MEMORY`` still overrides
    unconditionally."""
    if mem_total_bytes is None:
        try:
            with open("/proc/meminfo") as f:
                for line in f:
                    if line.startswith("MemTotal:"):
                        mem_total_bytes = int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
        if mem_total_bytes is None:
            return "24g"  # no /proc (non-Linux): keep the measured value
    gib = max(2, min(24, int(mem_total_bytes / 2 / (1 << 30))))
    return f"{gib}g"


def _submitted_conf(key: str) -> str | None:
    """``key`` as spark-submit set it for this driver, or None. Only a
    driver that spark-submit started finds its gateway in
    ``PYSPARK_GATEWAY_PORT``; a driver that launches its own JVM has no
    submitted conf to read."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    from pyspark import SparkConf

    SparkContext._ensure_initialized()
    return SparkConf().get(key, None)


def _with_import_root(pythonpath: str | None) -> str:
    entries = [e for e in (pythonpath or "").split(os.pathsep) if e]
    return os.pathsep.join(entries + [IMPORT_ROOT] * (IMPORT_ROOT not in entries))


# --- class-data archive -----------------------------------------------------
#
# A stock local driver JVM spends seconds of its start loading and
# verifying Spark's classes. JDK 17 maps them from a dynamic class-data
# archive instead (-XX:SharedArchiveFile); it checks the archive against
# the JDK and the classpath it was recorded with and starts stock when
# they differ. It does not survive two things: a non-empty directory on
# the classpath (Spark puts its conf dir first), which makes it refuse
# the archive, and a truncated archive, which kills it with SIGBUS. So a
# conf dir of templates only is swapped for an empty one for the launch,
# and an archive carries its byte count in its name.

# Each of these can put entries on the driver's classpath that the
# archive was not recorded with.
_CLASSPATH_ENV = (
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
    "SPARK_DIST_CLASSPATH",
    "SPARK_PREPEND_CLASSES",
    "PYSPARK_SUBMIT_ARGS",
)
# the JVM writes its CDS warnings (hundreds while recording) to stdout,
# where the CLI prints its JSON
_QUIET = "-Xlog:cds*=off"
_RECORDING = re.compile(r"\.(\w+)\.(\d+)\.tmp")


def class_data_dir() -> str:
    """``$XDG_CACHE_HOME`` (else ``~/.cache``) + the package's directory."""
    root = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(root):
        root = os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(root, "amazon_s3_find_and_forget_spark", "class-data")


def _java_home() -> str:
    """The JDK that spark-class runs: ``$JAVA_HOME``, else ``java`` on
    the PATH."""
    if os.environ.get("JAVA_HOME"):
        return os.environ["JAVA_HOME"]
    java = shutil.which("java") or ""
    return os.path.dirname(os.path.dirname(os.path.realpath(java)))


def archive_key(java_home: str, spark_home: str) -> str:
    """A digest of what a JVM checks a class-data archive against: the
    JDK build (its ``release`` file, ``libjvm.so``'s size and mtime) and
    Spark's ``jars`` directory with each jar's name, size and mtime.
    Raises OSError when the JDK or the jars are not there."""
    h = hashlib.sha256()
    with open(os.path.join(java_home, "release"), "rb") as f:
        h.update(f.read())
    jars = os.path.join(spark_home, "jars")
    libjvm = os.path.join(java_home, "lib", "server", "libjvm.so")
    h.update(jars.encode())
    for path in [libjvm] + sorted(glob.glob(os.path.join(glob.escape(jars), "*.jar"))):
        st = os.stat(path)
        h.update(f"\0{os.path.basename(path)}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _recorded_archive(cache: str, key: str) -> str | None:
    """``<key>-<bytes>.jsa`` in ``cache`` whose size is the one in its
    name, or None."""
    for path in glob.glob(os.path.join(glob.escape(cache), f"{key}-*.jsa")):
        size = os.path.basename(path)[len(key) + 1 : -len(".jsa")]
        with contextlib.suppress(OSError):  # removed by a newer recording
            if size.isdigit() and os.path.getsize(path) == int(size):
                return path
    return None


def class_data_archive() -> str | None:
    """The class-data archive a local driver of this JDK and this Spark
    starts from, or None when none is recorded yet. It was recorded with
    the empty conf dir ``conf`` beside it as ``$SPARK_CONF_DIR``."""
    from pyspark.find_spark_home import _find_spark_home

    try:
        key = archive_key(_java_home(), _find_spark_home())
    except OSError:
        return None
    return _recorded_archive(class_data_dir(), key)


def _class_data_launch(conf: dict) -> tuple[str, str, str | None] | None:
    """(JVM options, empty conf dir, recording temp path or None) for a
    local driver JVM this process launches, or None for a stock start."""
    from pyspark.find_spark_home import _find_spark_home

    if conf.get("spark.driver.extraClassPath") or any(
        os.environ.get(v) for v in _CLASSPATH_ENV
    ):
        return None
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    cache = class_data_dir()
    empty_conf = os.path.join(cache, "conf")
    if re.search(r"[\s\"'\\]", cache):  # would need quoting in the options
        return None
    try:
        names = os.listdir(conf_dir) if os.path.isdir(conf_dir) else []
        if not all(n.endswith(".template") for n in names):
            return None
        key = archive_key(_java_home(), spark_home)
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf) or not os.access(cache, os.W_OK):
            return None
    except OSError:
        return None
    archive = _recorded_archive(cache, key)
    if archive:
        return f"-XX:SharedArchiveFile={archive} {_QUIET}", empty_conf, None
    tmp = os.path.join(cache, f".{key}.{os.getpid()}.tmp")
    return f"-XX:ArchiveClassesAtExit={tmp} {_QUIET}", empty_conf, tmp


@contextlib.contextmanager
def _env(name: str, value: str):
    saved = os.environ.get(name)
    os.environ[name] = value
    try:
        yield
    finally:
        if saved is None:
            del os.environ[name]
        else:
            os.environ[name] = saved


def _finish_recording(gateway, tmp: str) -> None:
    """Exit hook of a recording driver. The JVM writes the archive as it
    exits, which on Linux happens after Python unless this waits: stop
    Spark, close the gateway's stdin (the JVM exits on EOF), wait, and
    put the archive under its key only if the JVM exited 0. Every other
    archive and every dead recorder's temp file goes."""
    proc = gateway.proc
    if proc.poll() is None:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway.shutdown()
        proc.stdin.close()
    try:
        code = proc.wait(timeout=600)
    except subprocess.TimeoutExpired:
        proc.kill()
        code = proc.wait()
    cache = os.path.dirname(tmp)
    key = _RECORDING.fullmatch(os.path.basename(tmp)).group(1)
    try:
        if code != 0:
            raise OSError(f"the recording JVM exited {code}")
        archive = os.path.join(cache, f"{key}-{os.path.getsize(tmp)}.jsa")
        os.replace(tmp, archive)
    except OSError:
        with contextlib.suppress(OSError):
            os.remove(tmp)
        return
    for name in os.listdir(cache):
        m = _RECORDING.fullmatch(name)
        if (name.endswith(".jsa") and name != os.path.basename(archive)) or (
            m and not _alive(int(m.group(2)))
        ):
            with contextlib.suppress(OSError):
                os.remove(os.path.join(cache, name))


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:
        pass
    return True


def get_spark(
    app_name: str = "s3-find-and-forget-spark",
    cpus: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    conf = dict(extra_conf or {})
    master = (
        conf.pop("spark.master", None)
        or _submitted_conf("spark.master")
        or f"local[{cpus}]"
    )
    launch = None
    if master.startswith("local"):
        conf.setdefault("spark.python.daemon.module", WORKER_DAEMON)
        key = "spark.executorEnv.PYTHONPATH"
        conf[key] = _with_import_root(conf.get(key) or _submitted_conf(key))
        if "PYSPARK_GATEWAY_PORT" not in os.environ and SparkContext._gateway is None:
            launch = _class_data_launch(conf)
    if launch:
        key = "spark.driver.extraJavaOptions"
        conf[key] = " ".join(filter(None, [conf.get(key), launch[0]]))

    # scale defaults; a conf spark-submit set for this driver beats its
    # default, and ``extra_conf`` beats both
    defaults = {
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # On a real cluster ALSO set
        # spark.sql.adaptive.coalescePartitions.parallelismFirst=false
        # (Spark's own production recommendation) so AQE coalesces to
        # advisoryPartitionSizeInBytes instead of keeping parallelism;
        # A/B-ed at sf0.1 local[32]: no local win (task scheduling in a
        # single JVM is too cheap for it to matter), so it is left to
        # cluster deployment rather than hardcoded here.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.caseSensitive": "false",
        "spark.sql.session.timeZone": "UTC",
        # TIMESTAMP(NANOS) parquet columns surface as long nanos instead of
        # failing the scan (converted back to timestamps at load)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # In local[N] the driver JVM IS the executor: N concurrent
        # tasks share this one heap. The old 8g default left 256 MB per
        # task at N=32 — event logs showed 12-22 s of GC inside single
        # sf1 stages (up to half the stage's executor time), and an
        # interleaved 8g/24g A/B (round 17, two rounds each) measured
        # the shuffle-heaviest rows 5-30% faster at 24g with identical
        # plans. 24g keeps ~768 MB per concurrent task (the standard
        # ~1 GB/core sizing, guide §5/§9) while leaving the rest of a
        # 128 GB host to Python workers and the page cache. Still
        # env-overridable; on a real cluster executor memory is sized
        # separately and this default only shapes the driver. Capped
        # at half of MemTotal so a small host can still launch
        # (_default_driver_memory, r17 verdict ask #7).
        "spark.driver.memory": (
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory()
        ),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.ui.enabled": "false",
    }
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in defaults.items():
        if _submitted_conf(k) is None:
            builder = builder.config(k, v)
    for k, v in conf.items():
        builder = builder.config(k, v)
    if not launch:
        return builder.getOrCreate()
    _, conf_dir, recording = launch
    with _env("SPARK_CONF_DIR", conf_dir):
        session = builder.getOrCreate()
    if recording:
        atexit.register(_finish_recording, SparkContext._gateway, recording)
    return session
