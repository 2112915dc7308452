from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# the python2 reference implementation the differential tests run as
# their oracle; without it those tests cannot compare, so they skip
REFERENCE_MODULE = "/root/reference/readability.py"
needs_reference = pytest.mark.skipif(
    not os.path.exists(REFERENCE_MODULE),
    reason=f"python2 reference oracle {REFERENCE_MODULE} is absent",
)


@pytest.fixture(scope="session")
def spark():
    from readability_py_spark.session import build_session

    s = build_session(
        app_name="rps-tests",
        master="local[4]",
        shuffle_partitions="4",
    )
    yield s
    s.stop()
