import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from supacrawler_spark.session import get_spark, machine_heap

    os.environ.setdefault("SPARK_DRIVER_MEMORY", machine_heap())
    s = get_spark(master="local[8]", shuffle_partitions=8,
                  app_name="supacrawler-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def web(spark):
    """(pages_df, pages_dict, n_docs) — the synthetic web at smoke scale."""
    from supacrawler_spark.sources import gen_pages_df

    pages_df, n_docs = gen_pages_df(spark, SF_DIR)
    pages_df = pages_df.cache()
    local = {r["url"]: bytes(r["html"]).decode()
             for r in pages_df.select("url", "html").collect()}
    return pages_df, local, n_docs
