"""Cache-release discipline (round 14, VERDICT r13 #5).

Every query-path ``persist()`` routes through the session cache ledger
(``osmart_etl_spark.caching``); the ``@query`` decorator releases the
previous query's entries at each new build. These tests pin the
contract: after a persisting query runs and the ledger is released,
the SQL CacheManager holds NO entries — a long-lived session can no
longer accumulate dead cached blocks (the round-13 in-sweep starvation
pathology).
"""

from __future__ import annotations

import pytest

from osmart_etl_spark.caching import ledger_size, release_persisted
from osmart_etl_spark.queries.base import REGISTRY

from tests.conftest import SF_SMALL

#: queries whose implementations persist intermediates (directly or via
#: ops helpers) — one per persist-site family touched in round 14.
PERSISTING = [
    "dedup_minhash_lsh",      # ops/dedup.candidate_pairs band_keys
    "ccnet_perplexity_buckets",  # _kn_doc_scores occ/c2 + agg/scores (led_persist)
    "ivfpq_search",           # cand + ADC table
    "graph_pagerank",         # edges/nodes/esrc
    "setsim_exact_join",      # shingle sets + tier signatures (closure sites)
    "lsh_recall_audit",       # sample shingle sets
    "dedup_components",       # ops/graph loop-final labels (led_register)
]


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture(autouse=True)
def _clean_cache(spark):
    """Baseline: other test modules share the session and may leave
    caches of their own (they don't run through the @query decorator);
    the assertions below are about what THIS query leaves behind."""
    spark.catalog.clearCache()
    release_persisted()
    yield


@pytest.mark.parametrize("name", PERSISTING)
def test_release_empties_cache_manager(spark, name):
    df = REGISTRY[name].fn(spark, SF_SMALL)
    df.write.format("noop").mode("overwrite").save()
    assert ledger_size() > 0, f"{name} no longer registers its persists"
    release_persisted()
    assert ledger_size() == 0
    assert _cache_manager_empty(spark), f"{name} left cached entries"


def test_next_build_releases_previous(spark):
    """The decorator's deferred release: building query B drops query
    A's cached blocks without any explicit call."""
    a = REGISTRY["lm_perplexity_filter"].fn(spark, SF_SMALL)
    a.write.format("noop").mode("overwrite").save()
    assert not _cache_manager_empty(spark)
    # asof_lookup persists nothing, so after its build the previous
    # query's entries are gone and nothing new is registered
    REGISTRY["asof_lookup"].fn(spark, SF_SMALL)
    assert _cache_manager_empty(spark)
    assert ledger_size() == 0


def test_persist_after_build_is_untagged_and_released(spark):
    """The decorator resets the ledger tag when a build returns: a frame
    persisted afterwards (a pipeline, a notebook cell) belongs to no
    query, so rebuilding the SAME query still releases it."""
    from osmart_etl_spark import caching

    REGISTRY["asof_lookup"].fn(spark, SF_SMALL)
    df = caching.led_persist(spark.range(10))
    tag, entry = caching._LEDGER[-1]
    assert tag is None and entry is df
    assert not _cache_manager_empty(spark)
    REGISTRY["asof_lookup"].fn(spark, SF_SMALL)
    assert ledger_size() == 0
    assert _cache_manager_empty(spark)


def test_failed_unpersist_is_logged(spark, caplog):
    """With a live SparkContext a failing release is logged, not
    swallowed, and the rest of the ledger is still released."""
    import logging

    from osmart_etl_spark import caching

    class Broken:
        def unpersist(self):
            raise RuntimeError("boom")

    caching.led_persist(spark.range(5))
    caching.led_register(Broken())
    with caplog.at_level(logging.WARNING, logger="osmart_etl_spark.caching"):
        assert release_persisted() == 2
    assert any(
        r.levelno == logging.WARNING and r.exc_info and "boom" in str(r.exc_info[1])
        for r in caplog.records
    )
    assert ledger_size() == 0
    assert _cache_manager_empty(spark)
