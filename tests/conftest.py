import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# checkout of the reference implementation (STACpopulator) whose fixtures
# and sources some tests read
REFERENCE_ROOT = "/root/reference"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "requires_reference(*paths): reads `paths` from the reference checkout; "
        "skipped when the checkout is absent",
    )


def pytest_runtest_setup(item):
    # skip only when the whole checkout is missing: a missing file inside a
    # present checkout is a real failure
    for mark in item.iter_markers("requires_reference"):
        if not os.path.isdir(REFERENCE_ROOT):
            pytest.skip(f"reference checkout absent: {', '.join(mark.args)} not found")


_SPARK_HOLDER: dict = {}


@pytest.fixture(scope="session")
def spark():
    from stac_populator_spark.session import get_spark

    s = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=4)
    _SPARK_HOLDER["spark"] = s
    yield s
