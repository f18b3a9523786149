"""Shared pytest fixtures: one session-scoped local SparkSession.

Uses a small core/partition count — the suite runs on handcrafted frames
plus the sf0.001 parquet, where scheduling overhead dominates, not data.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import SparkSession

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.session import (  # noqa: E402
    get_spark,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("engine-tests", cpus="4")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(autouse=True)
def _stop_leftover_streams():
    """Stop any streaming query a test leaves running, so that its
    micro-batches do not compete for the cores of every later test."""
    yield
    session = SparkSession.getActiveSession()
    if session is not None:
        for query in session.streams.active:
            query.stop()
