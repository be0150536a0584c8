import os
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from amazon_s3_find_and_forget_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="s3f2-tests",
        cpus=4,
        extra_conf={
            "spark.driver.memory": "4g",
            # catalog tables (manifest tables) must not land in the repo
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="s3f2-wh-"),
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
