from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from data_lakes_tp2_student_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_SMALL = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
SF_ORACLE = os.environ.get("TEST_SF_DIR", SF_SMOKE)


def _require_testdata() -> None:
    """Fail with one message that names the missing data dir, instead of
    each test tripping over its own file-not-found."""
    missing = [d for d in (SF_SMOKE, SF_ORACLE) if not os.path.isdir(d)]
    if missing:
        pytest.fail(f"test data not found: {', '.join(missing)}", pytrace=False)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    _require_testdata()
    s = get_spark(
        app_name="tests",
        cpus=os.environ.get("SPARK_GRAFT_CPUS", "4"),
        shuffle_partitions=8,
        driver_memory="4g",
        extra_conf={
            # static conf: must be set at session creation (bucketing tests)
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("spark_wh")),
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    _require_testdata()
    return SF_ORACLE
