from __future__ import annotations

import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
for p in (str(ROOT), str(BENCH)):
    if p not in sys.path:
        sys.path.insert(0, p)


@pytest.fixture(scope="session")
def spark():
    from query_cost_feature_engineering_spark.session import get_spark

    s = get_spark(app="perfbench-tests", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()
