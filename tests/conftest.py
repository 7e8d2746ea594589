from __future__ import annotations

import pytest

from wikipath_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="wikipath_spark-tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def edges_df(spark):
    def make(edge_list):
        return spark.createDataFrame([(int(a), int(b)) for a, b in edge_list], "src long, dst long")

    return make


@pytest.fixture()
def parquet(spark, tmp_path):
    """Writes rows as parquet and reads them back: an edge (or vertex) table
    with a real, small Catalyst size estimate, so the operators' driver lanes
    take it (``createDataFrame`` frames report an unknown size and stay
    distributed)."""

    def make(name, rows, schema="src long, dst long", files=1):
        df = spark.createDataFrame(rows, schema)
        df = df.coalesce(1) if files == 1 else df.repartition(files, df.columns[-1])
        path = str(tmp_path / f"{name}.parquet")
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    return make
