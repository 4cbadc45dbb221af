"""bench.py's contract, checked without a JVM: the headline query list, an
import that starts no Spark, and the N -> 4N arms derived from the host."""

import subprocess
import sys
from pathlib import Path

import pytest

import bench
from refined_spark import queries

ROOT = Path(__file__).resolve().parents[1]


def test_headline_is_24_oracle_checked_queries():
    # the headline total sums these 24 queries and er_pipeline: 25 timings
    assert len(bench.HEADLINE) == 24
    assert len(set(bench.HEADLINE)) == 24
    assert "er_pipeline" not in bench.HEADLINE
    for name in bench.HEADLINE:
        assert name in queries.QUERIES, name
        assert name in queries.ORACLES, name


def test_import_starts_no_spark():
    code = ("import bench\n"
            "from pyspark import SparkContext\n"
            "assert SparkContext._gateway is None\n"
            "assert SparkContext._active_spark_context is None\n")
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True)


@pytest.mark.parametrize("cpus, arms", [(4, (1, 4)), (6, (1, 4)), (7, (1, 4)),
                                        (8, (2, 8)), (32, (8, 32))])
def test_scaling_arms_from_cpus(cpus, arms):
    assert bench.scaling_arms(cpus) == arms


@pytest.mark.parametrize("cpus", [0, 1, 3])
def test_scaling_arms_need_four_cpus(cpus):
    with pytest.raises(ValueError, match="at least 4 cpus"):
        bench.scaling_arms(cpus)
