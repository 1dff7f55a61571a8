from __future__ import annotations

import pytest


def pytest_configure(config):
    # a pandas kernel without full type hints makes applyInPandas warn
    # on every build (PySpark 4.1 cannot infer its eval type); keep that
    # from coming back silently
    config.addinivalue_line(
        "filterwarnings",
        "error:Cannot infer the eval type from type hints:UserWarning",
    )


@pytest.fixture(scope="session")
def spark():
    from doclayout_yolo_spark.session import get_spark

    s = get_spark(app="tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()
