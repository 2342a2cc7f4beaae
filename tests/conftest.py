"""Shared pytest fixtures: one session-scoped local SparkSession."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dedup.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="dedup-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus():
    from dedup.synth import make_corpus

    return make_corpus(n_convs=120, seed=42)


@pytest.fixture(scope="session")
def turns_df(spark, corpus):
    from dedup.synth import corpus_to_spark

    df = corpus_to_spark(spark, corpus)
    df = df.cache()
    df.count()
    return df


@pytest.fixture
def freed_scratch(spark):
    """Unpersist the checkpoints a test's own pipeline runs leave pinned.

    Left alone, the JVM's context cleaner frees them whenever their Python
    handles are collected, which can fall inside a later test that compares
    persistent-RDD sets."""
    from dedup.util import persistent_rdd_ids, unpersist_ids

    before = persistent_rdd_ids(spark)
    yield
    unpersist_ids(spark, persistent_rdd_ids(spark) - before, blocking=True)
