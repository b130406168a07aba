"""Session-factory profile behavior."""

from __future__ import annotations

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from feature_generation_benchmark_spark.session import comet_jar, get_spark


def test_comet_profile_noops_without_jar(spark, monkeypatch):
    """profile='comet' must be a clean no-op when no Comet jar exists —
    callers request the accelerated profile unconditionally and get the
    plain engine profile on vanilla machines."""
    import feature_generation_benchmark_spark.session as sess

    monkeypatch.setattr(sess, "comet_jar", lambda: None)
    s = sess.get_spark("comet-noop-test", profile="comet")
    # getOrCreate reuses the test session; no comet confs were applied
    assert s.conf.get("spark.comet.enabled", "false") == "false"


def test_unknown_profile_rejected():
    with pytest.raises(ValueError, match="unknown session profile"):
        get_spark("bad-profile-test", profile="nope")


def test_comet_jar_env_missing_path(monkeypatch):
    """An explicitly configured jar path that doesn't exist must raise —
    silently running the 'comet' profile on vanilla Spark would
    invalidate an A/B measurement without a trace (r6 session-2 review)."""
    import pytest

    monkeypatch.setenv("SPARK_GRAFT_COMET_JAR", "/nonexistent/comet.jar")
    with pytest.raises(FileNotFoundError, match="SPARK_GRAFT_COMET_JAR"):
        comet_jar()


def test_cache_scope_releases_query_pins(spark):
    """r7 verdict #8 (cache hygiene): three cache()-using queries run
    back-to-back through the public registry, each consumed inside a
    cache_scope — pinned storage must return to zero afterwards, and a
    cache pinned BEFORE the scopes must survive them untouched. A
    localCheckpoint and a .cache() made inside a scope are released."""
    from feature_generation_benchmark_spark.session import cache_scope
    from feature_generation_benchmark_spark.workloads import registry
    from tests.conftest import SF_SMOKE

    jsc = spark.sparkContext._jsc
    spark.catalog.clearCache()
    outer = spark.range(10).cache()
    outer.count()  # pre-existing pin the scopes must not release
    base = set(jsc.getPersistentRDDs().keySet().toArray())
    assert base, "outer cache should be pinned"

    reg = registry()
    for name in (
        "funnel_conversions",
        "graph_feature_propagation",
        "skipgram_pmi",
    ):
        with cache_scope(spark):
            assert reg[name].fn(spark, SF_SMOKE).count() >= 0
    after = set(jsc.getPersistentRDDs().keySet().toArray())
    assert after == base, f"leaked pins: {sorted(after - base)}"

    # a localCheckpoint made inside the scope is released
    counts = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    with cache_scope(spark):
        counts.localCheckpoint(eager=True)
    after = set(jsc.getPersistentRDDs().keySet().toArray())
    assert after == base, f"leaked checkpoint: {sorted(after - base)}"

    # a .cache() made inside the scope is released — its cache entry too,
    # so the same query re-run in a second scope pins its RDD again
    def cached_run():
        with cache_scope(spark):
            df = counts.cache()
            df.count()
            pinned = set(jsc.getPersistentRDDs().keySet().toArray()) - base
        return df, pinned

    first, pinned = cached_run()
    assert len(pinned) == 1
    assert first.storageLevel == StorageLevel.NONE
    _, pinned = cached_run()
    assert len(pinned) == 1, "the second scope's .cache() pinned nothing"
    after = set(jsc.getPersistentRDDs().keySet().toArray())
    assert after == base, f"leaked pins: {sorted(after - base)}"
    assert outer.storageLevel != StorageLevel.NONE
    outer.unpersist(True)


#: Queries whose fan-out frames (read by two or more consumers of the
#: returned plan) are pinned with ``.cache()``, which runs no job until the
#: caller's action.
_CACHED_FANOUT = [
    "approx_users_per_type",
    "bigram_logprob",
    "ccnet_perplexity_buckets",
    "dedup_minhash_lsh_raw",
    "dedup_simhash",
    "dsir_importance_weights",
    "dup_ngram_spans",
    "tfidf_top_terms",
    "top_ngram_coverage",
    "unigram_logprob",
]


@pytest.mark.parametrize("name", _CACHED_FANOUT)
def test_cached_fanout_queries_build_without_jobs(spark, name):
    from feature_generation_benchmark_spark.session import cache_scope
    from feature_generation_benchmark_spark.workloads import registry
    from tests.conftest import SF_SMOKE

    fn = registry()[name].fn
    sc = spark.sparkContext
    with cache_scope(spark):
        fn(spark, SF_SMOKE)  # absorbs first-touch table loads
    group = f"build:{name}"
    with cache_scope(spark):
        sc.setJobGroup(group, name)
        try:
            fn(spark, SF_SMOKE)
        finally:
            sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
