from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from dp_search_data_importer_spark.session import get_spark

    s = get_spark(app_name="tests")
    yield s


@pytest.fixture(scope="session")
def corpus(spark):
    """Small deterministic repo_files corpus, cached for the whole session."""
    from dp_search_data_importer_spark.sources.repo_files import synthetic_repo_files

    df = synthetic_repo_files(spark, n_docs=200, seed=42, min_words=40,
                              max_words=400, num_partitions=4).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
