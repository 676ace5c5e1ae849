from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from nyc_open_data_pipeline_spark.session import get_spark

    # managed catalog tables (bucketed-join tests) land in a temp dir, not
    # in a spark-warehouse/ under the working directory
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    s = get_spark(
        "tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
