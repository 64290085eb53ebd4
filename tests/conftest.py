from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from real_time_data_pipeline_for_restaurant_analytics_spark.session import get_spark  # noqa: E402

from .fixtures import load_two_days, write_day  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def two_days(tmp_path_factory) -> list[str]:
    """Both fixture days of all ten entities, staged."""
    root = str(tmp_path_factory.mktemp("stage"))
    return [write_day(root, 1), write_day(root, 2)]


@pytest.fixture(scope="session")
def two_day_wh(spark, two_days, tmp_path_factory):
    """The ten-entity warehouse after both fixture days; tests only read it."""
    return load_two_days(spark, two_days, tmp_path_factory.mktemp("wh"))
