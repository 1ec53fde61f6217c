import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from osmgraft.session import get_spark

    s = get_spark(app="osmgraft-tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def arrow_frame(spark):
    """``arrow_frame(rows, schema)``: the frame ``spark.createDataFrame(
    rows, schema)`` would give (``schema`` a DDL string or a StructType),
    built from an Arrow table.  It plans as a LocalTableScan, where a
    frame built from a Python list is an RDD scan whose every action
    runs Python tasks."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    def build(rows, schema):
        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        arrow = to_arrow_schema(schema)
        cols = list(zip(*rows)) if rows else [[] for _ in arrow]
        return spark.createDataFrame(pa.table(
            [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow
        ))

    return build
