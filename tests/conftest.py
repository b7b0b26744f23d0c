from __future__ import annotations

import pytest

from movie_data_pipeline_spark.operators.util import query_scope
from movie_data_pipeline_spark.session import get_spark

TESTDATA_SF_DIR = "/root/testdata/sf0.001"
ORACLE_SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # Small local session for test speed; shuffle partitions kept low so
    # tiny-SF tests don't pay 32-task scheduling overhead per shuffle.
    # Warehouse dir (managed tables in sink tests) isolated per run.
    wh = str(tmp_path_factory.mktemp("spark-warehouse"))
    spark = get_spark(
        app_name="mdp-tests",
        cpus=8,
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": wh},
    )
    yield spark


@pytest.fixture
def _scoped(spark):
    """Each test is one query: the caches and checkpoints it makes end
    with it instead of leaking into later modules. A module applies it
    with ``pytestmark = pytest.mark.usefixtures("_scoped")``; module-
    scoped fixtures are set up before the scope opens, so their
    checkpoints survive it."""
    with query_scope():
        yield
