import json
import os
from pathlib import Path

import pytest

FIXTURES = Path(__file__).parent / "fixtures"
TESTDATA = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


def load_fixture(name: str) -> dict:
    with open(FIXTURES / name) as fh:
        return json.load(fh)


@pytest.fixture(scope="session")
def users_current():
    from iceberg_evolve_spark.schema import Schema

    return Schema.from_file(str(FIXTURES / "users_current.iceberg.json"))


@pytest.fixture(scope="session")
def users_new():
    from iceberg_evolve_spark.schema import Schema

    return Schema.from_file(str(FIXTURES / "users_new.iceberg.json"))


@pytest.fixture(scope="session")
def spark():
    """Session-scoped local Spark from the engine's own factory, so tests run
    under the configuration the entries and the benchmark use. The test JVM
    heap stays at 4g unless ``SPARK_GRAFT_DRIVER_MEM`` says otherwise."""
    from iceberg_evolve_spark.sources import get_session

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    spark = get_session(app_name="iceberg-evolve-spark-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return TESTDATA
