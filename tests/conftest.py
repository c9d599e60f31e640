from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the checkout this conftest lives in, whatever its path
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from advanced_real_time_data_pipeline_and_analytical_processing_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=4, shuffle_partitions=4)
    yield s
    s.stop()
