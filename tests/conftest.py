from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

from airbnb_listings_reviews_data_engineering_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", cpus=4, shuffle_partitions=4)
    yield s
    # a test that sets a checkpoint dir must unset it: with one set, every
    # later pin() in the shared session would write reliable checkpoints
    assert s.sparkContext.getCheckpointDir() is None


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"
