import pytest


@pytest.fixture(scope="session")
def spark():
    from sdg_engine.session import get_spark

    s = get_spark("pytest", "local[8]")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def query_result(spark, sf_dir):
    """``query_result(name)``: the registered query's frame at sf_dir,
    built once per session.  A streaming query drains its stream when
    it is called, so the tests that check one drain share one drain."""
    from sdg_engine.queries import QUERIES

    memo = {}

    def get(name):
        if name not in memo:
            memo[name] = QUERIES[name](spark, sf_dir)
        return memo[name]

    return get
