import os

import pytest

# The session default heap (24g) is sized for benchmark-scale runs; the
# suite's fixtures are tiny, and a lazily-collected 24g heap grows past
# the RAM of a 16 GB box. Cap it for this JVM and for the CLI tests'
# child JVMs, which inherit the environment. An explicit setting wins.
os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")


@pytest.fixture(scope="session")
def spark():
    from rdf_to_text_spark.session import get_spark

    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()
