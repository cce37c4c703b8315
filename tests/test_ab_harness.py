"""tools/ab_harness.run_ab refuses to time builders whose results differ."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.ab_harness import run_ab  # noqa: E402


def test_run_ab_raises_on_different_rows(spark):
    builders = {
        "old": lambda: spark.range(3).toDF("x"),
        "new": lambda: spark.range(4).toDF("x"),
    }
    with pytest.raises(AssertionError, match="RESULT MISMATCH between old and new"):
        run_ab(spark, builders, runs=1)


def test_run_ab_passes_on_equal_rows(spark, capsys):
    builders = {
        "old": lambda: spark.range(3).toDF("x"),
        "new": lambda: spark.createDataFrame([(2,), (0,), (1,)], "x long"),
    }
    run_ab(spark, builders, runs=1)
    out = capsys.readouterr().out
    assert "results identical across ['old', 'new'] (3 rows)" in out
    assert "new vs old" in out
