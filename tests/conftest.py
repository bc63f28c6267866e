import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from web2llmstxt_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")))
    yield s
    s.stop()


@pytest.fixture
def persisted(spark):
    """Ids of the persisted RDDs, read on each call. Compare them as sets:
    Spark's cleaner may drop another test's leftovers at any moment."""
    return lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
