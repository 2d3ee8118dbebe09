import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from text_similarity_node_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    s = get_spark(app_name="tsn-tests", cores=cores, shuffle_partitions=8)
    yield s
    s.stop()
