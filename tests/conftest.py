import pytest


def pytest_configure(config):
    # a grouped-map function with a partly annotated signature silently
    # falls back to the default eval type; annotate every parameter
    config.addinivalue_line(
        "filterwarnings",
        "error:Cannot infer the eval type from type hints:UserWarning",
    )


@pytest.fixture(scope="session")
def spark():
    from tsmp_spark.session import get_spark

    s = get_spark(app_name="tsmp_tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
