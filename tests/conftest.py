from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from codepropertygraph_spark import testdata as td
from codepropertygraph_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def tier_dir():
    return td.ensure_generated("sf0.001")


@pytest.fixture(scope="session")
def transcripts(spark, tier_dir):
    return spark.read.parquet(f"{tier_dir}/transcripts.parquet")


@pytest.fixture(scope="session")
def alias_dict(spark, tier_dir):
    return spark.read.parquet(f"{tier_dir}/alias_dict.parquet")


@pytest.fixture(scope="session")
def expected_triples(spark, tier_dir):
    return spark.read.parquet(f"{tier_dir}/expected_triples.parquet")


@pytest.fixture(scope="session")
def expected_components(spark, tier_dir):
    return spark.read.parquet(f"{tier_dir}/expected_components.parquet")


@pytest.fixture(scope="session")
def spark_global(spark):
    return spark
