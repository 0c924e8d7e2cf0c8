"""Shared fixtures: one local SparkSession per test session + tiny
deterministic document tables (FIXTURES.md §1, §4)."""

from __future__ import annotations

import os
import sys

import pytest

_TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
_REPO_DIR = os.path.dirname(_TESTS_DIR)
sys.path.insert(0, _REPO_DIR)

# Python workers resolve pickled closures by module import; make both the
# repo and the test modules importable in executors (local-mode workers
# are separate processes and only see PYTHONPATH).
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (_REPO_DIR, _TESTS_DIR, os.environ.get("PYTHONPATH")) if p
)

# Deterministic hypothesis runs: the CI gate must not flake on a fresh
# random example — new counterexamples are found by widening the pinned
# regression suite, not by per-run randomness (round-3 verdict).
try:
    from hypothesis import settings as _hyp_settings

    _hyp_settings.register_profile("ci", derandomize=True)
    # Opt-in randomized runs: HYPOTHESIS_PROFILE=stress lifts the
    # derandomization so repeated runs explore fresh examples (pair
    # with --hypothesis-seed=random and LOOP the suite — per-test
    # @settings pin max_examples, so depth comes from repetition, not
    # a profile-level example count, which those pins would override).
    _hyp_settings.register_profile("stress", derandomize=False)
    _hyp_settings.load_profile(os.environ.get("HYPOTHESIS_PROFILE", "ci"))
except ImportError:  # pragma: no cover - hypothesis is baked in
    pass

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from sketchlib.spark.session import ARROW_BATCH_BYTES

    # get_spark's Arrow caps, so tests see the batches a build sees
    s = (
        SparkSession.builder.master("local[2]")
        .appName("sketchlib-tests")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(ARROW_BATCH_BYTES))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def docs_table():
    """1k-row deterministic web-page table (pyarrow)."""
    from sketchlib.datagen import generate_documents

    return generate_documents(1000, seed=42)


@pytest.fixture(scope="session")
def docs_parquet(tmp_path_factory, docs_table):
    import pyarrow.parquet as pq

    path = tmp_path_factory.mktemp("docs") / "documents.parquet"
    pq.write_table(docs_table, path)
    return str(path)


@pytest.fixture(scope="session")
def docs_df(spark, docs_parquet):
    return spark.read.parquet(docs_parquet)
