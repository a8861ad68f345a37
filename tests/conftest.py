from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from myhadoop_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # a fixed test heap, not get_spark's half-of-host-RAM default, so a
    # test run can share its host with another Spark process; an
    # explicit SPARK_GRAFT_DRIVER_MEM still wins
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()
