import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from owl_n4j_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("spark-warehouse"))
    s = get_spark(master="local[4]", app_name="owl-n4j-tests",
                  shuffle_partitions=8,
                  extra_conf={"spark.sql.warehouse.dir": wh})
    yield s
    s.stop()


@pytest.fixture(scope="session", autouse=True)
def engine_scratch(tmp_path_factory):
    """Root the engine's per-session warehouses and fixture trees (named
    by ``kg_analytics.warehouse_dir`` under /tmp) in pytest's rotated
    temporary directory, so a test run leaves no /tmp/owl_* trees."""
    from owl_n4j_spark.plans import kg_analytics

    root = str(tmp_path_factory.mktemp("owl"))
    base = kg_analytics.warehouse_dir

    def warehouse_dir(spark, sf_dir, kind):
        return os.path.join(root, os.path.basename(base(spark, sf_dir, kind)))

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(kg_analytics, "warehouse_dir", warehouse_dir)
        yield root


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
