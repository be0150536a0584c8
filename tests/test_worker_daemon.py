"""Python workers import pyspark from site-packages (``worker_daemon``),
and ``get_spark`` keeps the master and confs spark-submit already set."""

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

from amazon_s3_find_and_forget_spark import session
from amazon_s3_find_and_forget_spark.worker_daemon import site_packages_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_home(tmp_path, pyspark="4.1.2", py4j="0.10.9.9"):
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f"__version__: str = '{pyspark}'\n")
    with zipfile.ZipFile(lib / f"py4j-{py4j}-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
        z.writestr("py4j/version.py", f"__version__ = '{py4j}'\n")
    jar = tmp_path / "spark" / "jars" / "spark-core_2.13-4.1.2.jar"
    jar.parent.mkdir()
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("org/apache/spark/SparkContext.class", "")
    return [str(lib / "pyspark.zip"), str(lib / f"py4j-{py4j}-src.zip"), str(jar)]


def _site_packages(tmp_path, **versions):
    site = tmp_path / "site-packages"
    for package, version in versions.items():
        (site / package).mkdir(parents=True)
        (site / package / "__init__.py").write_text("")
        (site / package / "version.py").write_text(f"__version__ = '{version}'\n")
    site.mkdir(exist_ok=True)
    return str(site)


def test_drops_archives_when_site_packages_versions_match(tmp_path):
    archives = _spark_home(tmp_path)
    site = _site_packages(tmp_path, pyspark="4.1.2", py4j="0.10.9.9")
    path = ["/work", *archives, "/usr/lib/python3.11", site]
    assert site_packages_path(path) == ["/work", "/usr/lib/python3.11", site]


@pytest.mark.parametrize(
    "installed",
    [
        {"py4j": "0.10.9.9"},  # pyspark missing
        {"pyspark": "4.1.2"},  # py4j missing
        {"pyspark": "4.0.1", "py4j": "0.10.9.9"},  # pyspark differs
        {"pyspark": "4.1.2", "py4j": "0.10.9.7"},  # py4j differs
    ],
)
def test_keeps_archives_unless_both_versions_match(tmp_path, installed):
    archives = _spark_home(tmp_path)
    path = ["/work", *archives, _site_packages(tmp_path, **installed)]
    assert site_packages_path(path) == path


def test_keeps_a_path_without_spark_archives(tmp_path):
    site = _site_packages(tmp_path, pyspark="4.1.2", py4j="0.10.9.9")
    assert site_packages_path(["/work", site]) == ["/work", site]


def test_import_root_merges_into_executor_pythonpath():
    root = session.IMPORT_ROOT
    assert session._with_import_root(None) == root
    merged = session._with_import_root(os.pathsep.join(["/a", "/b"]))
    assert merged == os.pathsep.join(["/a", "/b", root])
    assert session._with_import_root(merged) == merged


def test_task_imports_pyspark_from_site_packages(spark):
    """A worker forked from the daemon has no zipimporter over Spark's
    archives, so PySpark's per-task ``invalidate_caches()`` re-reads none."""
    import pyspark

    def worker_imports(_):
        import sys
        import zipimport

        import pyspark

        zipimporters = [
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
        ]
        yield pyspark.__file__, zipimporters

    rows = spark.sparkContext.parallelize([0, 1], 2).mapPartitions(
        worker_imports
    ).collect()
    assert len(rows) == 2
    for pyspark_file, zipimporters in rows:
        assert pyspark_file == pyspark.__file__
        assert ".zip" not in pyspark_file
        assert zipimporters == []


SUBMITTED_DRIVER = """
import json, sys
from amazon_s3_find_and_forget_spark.session import get_spark

spark = get_spark(app_name="submit-probe", cpus=2)

def probe(rows):
    import pyspark
    yield sum(rows), pyspark.__file__

out = spark.sparkContext.parallelize(range(10), 2).mapPartitions(probe).collect()
print(json.dumps({
    "master": spark.sparkContext.master,
    "daemon": spark.sparkContext.getConf().get("spark.python.daemon.module"),
    "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    "sums": sorted(s for s, _ in out),
    "pyspark": [f for _, f in out],
    "jvm_args": list(spark.sparkContext._jvm.java.lang.management
                     .ManagementFactory.getRuntimeMXBean().getInputArguments()),
}))
spark.stop()
"""


@pytest.fixture(scope="module")
def submitted(tmp_path_factory):
    """One spark-submit run from a directory outside the checkout, with
    PYTHONPATH unset, the package shipped only as a ``--py-files`` zip."""
    submit = shutil.which("spark-submit")
    if submit is None:
        pytest.skip("spark-submit is not on PATH")
    work = tmp_path_factory.mktemp("submit")
    archive = work / "s3f2.zip"
    with zipfile.ZipFile(archive, "w") as z:
        pkg = os.path.join(REPO, "amazon_s3_find_and_forget_spark")
        for root, _, files in os.walk(pkg):
            for name in files:
                if name.endswith(".py"):
                    full = os.path.join(root, name)
                    z.write(full, os.path.relpath(full, REPO))
    (work / "driver.py").write_text(SUBMITTED_DRIVER)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["XDG_CACHE_HOME"] = str(work / "cache")
    proc = subprocess.run(
        [submit, "--master", "local[3]", "--driver-memory", "1g",
         "--conf", "spark.ui.enabled=false",
         "--conf", "spark.sql.shuffle.partitions=7",
         "--py-files", str(archive), "driver.py"],
        cwd=work, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    out["cache"] = os.listdir(work / "cache") if (work / "cache").exists() else []
    return out


def test_spark_submit_master_is_kept(submitted):
    assert submitted["master"] == "local[3]"
    assert submitted["daemon"] == session.WORKER_DAEMON


def test_spark_submit_conf_beats_session_defaults(submitted):
    # get_spark(cpus=2) would default to 2 shuffle partitions
    assert submitted["shuffle_partitions"] == "7"


def test_spark_submit_py_files_runs_python_tasks(submitted):
    assert submitted["sums"] == [10, 35]
    assert all(".zip" not in f for f in submitted["pyspark"])


def test_spark_submit_driver_gets_no_class_data_archive(submitted):
    # spark-submit launched the JVM before get_spark ran: nothing to add
    assert not [a for a in submitted["jvm_args"] if "Archive" in a]
    assert submitted["cache"] == []
