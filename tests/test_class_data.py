"""The class-data archive a local driver JVM starts from
(``session.get_spark``): recorded by the first session at its exit,
promoted only after a clean JVM exit, mapped by the next session, and
left out whenever the JVM could not use it. The session checks run in
subprocesses with their own ``XDG_CACHE_HOME``, each a JVM start."""

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.find_spark_home import _find_spark_home

from amazon_s3_find_and_forget_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER = """
import json, sys
from amazon_s3_find_and_forget_spark.session import get_spark
spark = get_spark(cpus=2, extra_conf=json.loads(sys.argv[1]))
bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory
bean = bean.getRuntimeMXBean()
squares = spark.sparkContext.parallelize(range(10), 2).map(lambda x: x * x)
print(json.dumps({
    "args": list(bean.getInputArguments()),
    "sum": squares.sum(),
    "probe": spark.conf.get("spark.s3f2.probe", None),
}))
"""


def _env(tmp_path, conf_dir=None):
    """A driver environment whose cache is under ``tmp_path`` and whose
    Spark conf dir holds only a template (or is ``conf_dir``)."""
    if conf_dir is None:
        conf_dir = tmp_path / "spark-conf"
        conf_dir.mkdir(exist_ok=True)
        (conf_dir / "spark-defaults.conf.template").write_text("# template\n")
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in session._CLASSPATH_ENV + ("PYSPARK_GATEWAY_PORT",)
    }
    env.update(
        PYTHONPATH=REPO,
        XDG_CACHE_HOME=str(tmp_path / "cache"),
        SPARK_CONF_DIR=str(conf_dir),
        SPARK_DRIVER_MEMORY="1g",
        PYSPARK_PYTHON=sys.executable,
    )
    return env


def _run(cmd, env):
    proc = subprocess.run(
        cmd, cwd=os.path.dirname(env["XDG_CACHE_HOME"]), env=env,
        capture_output=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr.decode()[-3000:]
    return proc.stdout


def _driver(env, extra_conf=None):
    out = _run([sys.executable, "-c", DRIVER, json.dumps(extra_conf or {})], env)
    return json.loads(out)


def _cache(env):
    return os.path.join(
        env["XDG_CACHE_HOME"], "amazon_s3_find_and_forget_spark", "class-data"
    )


def _processes_naming(path):
    """Pids of live processes whose command line holds ``path``."""
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if path.encode() in f.read():
                    found.append(pid)
        except OSError:
            continue
    return found


def _key():
    return session.archive_key(session._java_home(), _find_spark_home())


def test_first_session_records_the_archive_and_the_next_maps_it(tmp_path):
    """The first session records the archive and leaves no JVM behind;
    a CLI command prints the same bytes whether its session records or
    maps the archive; a later start under ``-Xshare:on`` succeeds, so
    the JVM really maps it."""
    env = _env(tmp_path)
    lake = tmp_path / "lake"
    lake.mkdir()
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int64())}), lake / "p.parquet")
    cli = [
        sys.executable, "-m", "amazon_s3_find_and_forget_spark",
        "--state-dir", str(tmp_path / "state"), "--cpus", "2",
        "put-mapper", "m", "--location", str(lake), "--column", "id",
    ]
    recorded = _run(cli, env)
    cache = _cache(env)
    (archive,) = [n for n in os.listdir(cache) if n.endswith(".jsa")]
    assert sorted(os.listdir(cache)) == [archive, "conf"]  # no temp file
    assert archive == f"{_key()}-{os.path.getsize(os.path.join(cache, archive))}.jsa"
    assert _processes_naming(cache) == []  # the recording JVM has exited

    mapped = _run(cli, env)
    assert mapped == recorded
    assert json.loads(mapped)["m"]["Columns"] == ["id"]

    run = _driver(env, {"spark.driver.extraJavaOptions": "-Xshare:on"})
    assert f"-XX:SharedArchiveFile={os.path.join(cache, archive)}" in run["args"]
    assert "-Xshare:on" in run["args"]
    assert run["sum"] == 285
    assert sorted(os.listdir(cache)) == [archive, "conf"]


def test_a_broken_file_under_the_key_gives_a_working_session(tmp_path):
    """A truncated archive (its size is not the one in its name) is never
    passed to the JVM, which would die mapping it; a foreign file of the
    named size is passed, and the JVM starts stock."""
    env = _env(tmp_path)
    cache = _cache(env)
    os.makedirs(cache)
    key = _key()
    with open(os.path.join(cache, f"{key}-4096.jsa"), "wb") as f:
        f.write(b"\0" * 100)
    foreign = os.path.join(cache, f"{key}-13.jsa")
    with open(foreign, "wb") as f:
        f.write(b"not an archv\n")
    run = _driver(env)
    assert f"-XX:SharedArchiveFile={foreign}" in run["args"]
    assert run["sum"] == 285


def test_a_real_conf_file_gives_a_stock_start_that_honours_it(tmp_path):
    conf_dir = tmp_path / "spark-conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.s3f2.probe yes\n")
    env = _env(tmp_path, conf_dir)
    run = _driver(env)
    assert not [a for a in run["args"] if "Archive" in a]
    assert run["probe"] == "yes"
    assert run["sum"] == 285
    assert not os.path.exists(_cache(env))


def _fake_jdk_and_spark(root):
    jdk, spark = root / "jdk", root / "spark"
    (jdk / "lib" / "server").mkdir(parents=True)
    (jdk / "release").write_text('JAVA_VERSION="17.0.20"\n')
    (jdk / "lib" / "server" / "libjvm.so").write_bytes(b"jvm")
    (spark / "jars").mkdir(parents=True)
    for name in ("a.jar", "b.jar"):
        (spark / "jars" / name).write_bytes(b"jar")
    return jdk, spark


def test_archive_key_follows_the_jdk_and_the_jars(tmp_path):
    jdk, spark = _fake_jdk_and_spark(tmp_path)
    key = session.archive_key(str(jdk), str(spark))
    assert session.archive_key(str(jdk), str(spark)) == key
    jar = spark / "jars" / "b.jar"
    jar.write_bytes(b"jar2")  # size
    assert session.archive_key(str(jdk), str(spark)) != key
    key = session.archive_key(str(jdk), str(spark))
    os.utime(jar, ns=(0, 10**9))  # mtime
    assert session.archive_key(str(jdk), str(spark)) != key
    key = session.archive_key(str(jdk), str(spark))
    (jdk / "release").write_text('JAVA_VERSION="17.0.21"\n')
    assert session.archive_key(str(jdk), str(spark)) != key
    os.remove(jar.parent / "a.jar")
    (jdk / "release").unlink()
    with pytest.raises(OSError):
        session.archive_key(str(jdk), str(spark))


@pytest.mark.parametrize(
    "setting",
    [
        "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
        "extraClassPath", "real conf file", "unwritable cache",
    ],
)
def test_the_launch_is_stock_when_the_archive_cannot_be_used(
    tmp_path, monkeypatch, setting
):
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "log4j2.properties.template").write_text("")
    for k in session._CLASSPATH_ENV:
        monkeypatch.delenv(k, raising=False)
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    assert session._class_data_launch({}) is not None
    conf = {}
    if setting == "extraClassPath":
        conf["spark.driver.extraClassPath"] = str(tmp_path / "x.jar")
    elif setting == "real conf file":
        (conf_dir / "log4j2.properties").write_text("")
    elif setting == "unwritable cache":
        (tmp_path / "file").write_text("")
        monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file"))
    else:
        monkeypatch.setenv(setting, str(tmp_path))
    assert session._class_data_launch(conf) is None


class _Gateway:
    """A gateway whose "JVM" writes the archive and exits ``code``."""

    def __init__(self, tmp, code):
        script = (
            "import sys\n"
            "sys.stdin.read()\n"
            f"open({tmp!r}, 'wb').write(b'x' * 10)\n"
            f"sys.exit({code})\n"
        )
        self.proc = subprocess.Popen([sys.executable, "-c", script], stdin=subprocess.PIPE)

    def shutdown(self):
        pass


@pytest.mark.parametrize("code", [0, 1])
def test_a_recording_is_promoted_only_after_a_clean_exit(
    tmp_path, monkeypatch, code
):
    """The exit hook waits for the JVM: its archive replaces every other
    one if it exited 0; otherwise it is removed and nothing changes. A
    dead recorder's temp file goes too."""
    from pyspark import SparkContext

    # the hook stops the active context; this test's is not its to stop
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    old = tmp_path / "0123456789abcdef-7.jsa"
    old.write_bytes(b"x" * 7)
    dead = tmp_path / ".0123456789abcdef.999999999.tmp"
    dead.write_bytes(b"partial")
    tmp = tmp_path / f".feedfacefeedface.{os.getpid()}.tmp"
    session._finish_recording(_Gateway(str(tmp), code), str(tmp))
    if code == 0:
        assert sorted(os.listdir(tmp_path)) == ["feedfacefeedface-10.jsa"]
    else:
        assert sorted(os.listdir(tmp_path)) == sorted([old.name, dead.name])
