from __future__ import annotations

import pytest

from docling_eval_spark.session import get_spark


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "spark: test starts or uses a SparkSession"
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()
