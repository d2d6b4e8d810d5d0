from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, "/root/repo")

from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.session import (  # noqa: E402
    get_spark,
)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    wh = tmp_path_factory.mktemp("warehouse")
    s = get_spark(
        "tests",
        cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"),
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": str(wh)},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
