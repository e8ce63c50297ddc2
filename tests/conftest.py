import os
import shutil
import tempfile

import pytest

from sap_spark.config import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="sap_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture()
def tmpdir_path():
    d = tempfile.mkdtemp(prefix="sap_spark_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def spark_discovery(monkeypatch):
    """Send every batch down the large-batch discovery path (persisted
    Spark jobs) instead of the driver collect small test batches take."""
    from sap_spark.streaming import pipeline

    monkeypatch.setattr(pipeline, "DRIVER_DISCOVERY_MAX_BYTES", 0)


@pytest.fixture()
def spark_write(monkeypatch):
    """Keep every merge-on-read batch on the Spark fold and write: no
    batch is collected whole and written from the driver, as for a batch
    past the whole-batch line but inside the narrow one. Every
    compaction reads, folds and writes through Spark too."""
    from sap_spark.plans.lake import LakeTable

    monkeypatch.setattr(LakeTable, "driver_write_schema", lambda self, user: None)
