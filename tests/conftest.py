import pytest

from dbldatagen_spark import local_session


@pytest.fixture(scope="session")
def spark():
    session = local_session("dbldatagen_spark-tests")
    yield session
    session.stop()
