"""Driver-thread harness: every failing branch is reported."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from codepropertygraph_spark import parallel


def _failing(spark, msg):
    return spark.range(1).select(F.raise_error(F.lit(msg)).alias("x"))


def test_one_failure_is_raised_as_itself(spark):
    with pytest.raises(Exception, match="branch-one") as info:
        parallel.eager_checkpoints(spark.range(2), _failing(spark, "branch-one"))
    assert not isinstance(info.value, ExceptionGroup)


def test_every_failed_branch_is_reported(spark):
    with pytest.raises(ExceptionGroup) as info:
        parallel.collect_all(
            _failing(spark, "branch-one"), spark.range(2), _failing(spark, "branch-two")
        )
    msgs = [str(e) for e in info.value.exceptions]
    assert len(msgs) == 2
    assert any("branch-one" in m for m in msgs)
    assert any("branch-two" in m for m in msgs)
