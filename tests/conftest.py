import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")


@pytest.fixture(scope="session")
def spark():
    from table_annotation_spark.session import get_spark

    s = get_spark(
        app_name="tests",
        shuffle_partitions=4,
        # AQE re-planning dominates at fixture scale (see session.py)
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def src_df(spark):
    from table_annotation_spark import fixtures

    return spark.createDataFrame(fixtures.source_rows())


@pytest.fixture(scope="session")
def kg(spark):
    from table_annotation_spark import fixtures
    from table_annotation_spark.sources import kg_build

    lbl_rows, edge_rows = fixtures.mini_kg()
    labels = kg_build.labels_df(spark, lbl_rows).cache()
    edges = kg_build.edges_df(spark, edge_rows).cache()
    return labels, edges
