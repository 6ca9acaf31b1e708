from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

# Python workers (data source read(), pandas UDFs) unpickle our classes —
# they need the repo on their path too.
os.environ["PYTHONPATH"] = REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

# Secrets file for this test session: must be set BEFORE the SparkSession
# starts — Python workers inherit the env of the JVM launch, not later
# monkeypatches.
import tempfile

_SECRETS_DIR = tempfile.mkdtemp(prefix="erpl-secrets-")
os.environ["ERPL_WEB_SECRETS_FILE"] = os.path.join(_SECRETS_DIR, "secrets.json")


@pytest.fixture()
def secrets_file():
    path = os.environ["ERPL_WEB_SECRETS_FILE"]
    yield path
    if os.path.exists(path):
        os.remove(path)

@pytest.fixture()
def tz(monkeypatch):
    """Set the process time zone (``TZ`` + ``time.tzset``) for one test."""
    import time

    def set_tz(name):
        monkeypatch.setenv("TZ", name)
        time.tzset()

    yield set_tz
    monkeypatch.undo()
    time.tzset()


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(autouse=True)
def _release_tracked_caches():
    """Each test is a 'batch' on the session-scoped driver: release any
    operator-internal persisted frames it left in the module registry
    so accumulation (and the loud RuntimeWarning at 8 frames) never
    crosses test boundaries. Tests that assert the warning/registry
    behavior manage the registry explicitly inside their own body."""
    yield
    from erpl_web_spark.operators import release_tracked

    release_tracked()


@pytest.fixture(scope="session")
def spark():
    from erpl_web_spark.session import get_spark

    spark = get_spark("erpl-web-spark-tests", master="local[4]")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def fixture_server():
    from fixtures.odata_server import FixtureServer

    srv = FixtureServer().start()
    yield srv
    srv.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
