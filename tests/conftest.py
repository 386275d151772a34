import pytest

from har2tree_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("har2tree_spark_tests", driver_memory="4g")
    yield s
    s.stop()
