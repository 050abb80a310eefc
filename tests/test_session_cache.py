"""Operators leave the session's cache manager as they found it: a
table an operator materializes for its own plan must not stay pinned
after the caller drops the result. Own session, so no other module's
cached fixture shares the cache manager."""

from __future__ import annotations

import pytest

pyspark = pytest.importorskip("pyspark")


@pytest.fixture(scope="module")
def spark():
    from html_parser_spark.plans.pipeline import configure
    s = configure(cpus=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_dedup_pair_operators_leave_no_cached_table(spark):
    from html_parser_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon w{i % 3}") for i in range(12)],
        ["doc_id", "text"])
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    assert dedup.minhash_band_pairs(docs).count() > 0
    assert dedup.simhash_pairs(docs, max_hamming=3).count() > 0
    assert cache.isEmpty()
