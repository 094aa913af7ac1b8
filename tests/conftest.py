import pytest


@pytest.fixture(scope="session")
def spark():
    from esgkg.session import get_spark

    s = get_spark(cores=8, app="esgkg-tests")
    yield s
    s.stop()
