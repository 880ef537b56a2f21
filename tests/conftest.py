from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Executor python workers must be able to unpickle functions defined in
# test modules → put repo + tests on their import path before the JVM
# (and thus the python workers) start.
os.environ["PYTHONPATH"] = os.pathsep.join(
    [REPO, os.path.join(REPO, "tests"), os.environ.get("PYTHONPATH", "")]
)

from map_reduce_engine_cdps_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
