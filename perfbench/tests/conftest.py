from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT)]
# Python workers must import the package too (they inherit the environment)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
)


@pytest.fixture(scope="session")
def spark():
    from jobinsight_data_pipeline_v2_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.driver.memory": "1g"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
