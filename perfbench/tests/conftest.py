"""Run from the repository root: ``python3 -m pytest perfbench/tests``."""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.dirname(HERE), HERE]


@pytest.fixture(scope="session")
def spark():
    from data_pipeline_eng_project_1_spark import get_spark

    from run import _stop_jvm

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    spark = get_spark("perfbench-tests", cores=2)
    yield spark
    _stop_jvm(spark)
