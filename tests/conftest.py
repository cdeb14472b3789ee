"""Shared fixtures: one SparkSession per test run, sf0.001 fixtures."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# The session default heap (48g) lets the one long-lived test JVM grow
# past a 16 GB host's RAM over a full run, where the kernel OOM-kills it
# and every later test errors. The sf0.001 fixtures need far less.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")


@pytest.fixture(scope="session")
def spark():
    from bigdatasearchpro_spark.session import get_spark

    spark = get_spark("tests", cpus=8, extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def docs(spark, sf_dir):
    from bigdatasearchpro_spark.sources.files import load_table

    return load_table(spark, sf_dir, "documents")
