from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from atac_data_products_spark.session import get_spark  # noqa: E402
from tools.check_correctness import duck_connect  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("adp-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duck_connect(SF_SMALL)
    yield con
    con.close()


@pytest.fixture(scope="session")
def registry_plans(spark):
    """Every key's plan texts, built once for the static scanners."""
    import __spark_entry__ as e
    from tools.plan_capture import capture

    qs = e.queries()
    return capture(spark, qs, list(qs), SF_SMALL)
