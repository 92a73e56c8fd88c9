import pytest

from neocrawler_spark.session import get_spark


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: a multi-round crawl test (deselect with -m 'not slow')")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("neocrawler-tests")
    yield s


@pytest.fixture()
def catalog(tmp_path):
    from neocrawler_spark.sources.tables import Catalog

    return Catalog(tmp_path / "warehouse")
