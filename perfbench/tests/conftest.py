import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from cdc_connector_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, BENCH, os.environ.get("PYTHONPATH", "")])
    s = get_spark(
        "perfbench-tests", master="local[2]", shuffle_partitions=2,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(tmp_path_factory.mktemp("spark-local")),
        },
    )
    yield s
    s.stop()
