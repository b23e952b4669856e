import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [os.path.dirname(BENCH), BENCH]

import pytest  # noqa: E402


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from kg.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=4,
                  extra_conf={"spark.driver.memory": "1g",
                              "spark.ui.showConsoleProgress": "false",
                              "spark.local.dir": str(tmp_path_factory.mktemp("spark-local"))})
    yield s
    s.stop()
