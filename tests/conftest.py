import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from easy_sql_spark.session import build_session

    # a fresh warehouse per pytest session: the in-memory catalog forgets
    # tables between sessions but their files persist (stale dirs make
    # CREATE TABLE fail with LOCATION_ALREADY_EXISTS), and a shared fixed
    # dir would let two sessions on one host delete each other's tables
    warehouse = tmp_path_factory.mktemp("warehouse")
    spark = build_session(
        "easy_sql_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.sql.warehouse.dir": str(warehouse),
            "spark.ui.enabled": "false",
        },
    )
    yield spark
