"""The owner-keyed cache lifecycle (caching.operator_scope): unit tests on
tiny synthetic frames, the cross-owner keying contract on registered
operators, and the in-scope registration rule for the graph operators."""

from __future__ import annotations

import re

import pytest

from apache_iceberg_demo_spark import caching, registry
from apache_iceberg_demo_spark.tuning import scoped_conf
from tests.conftest import SF_SMOKE as SF

registry.load_all()

OWNER = "test_synthetic_owner"
CONF_KEY = "spark.sql.shuffle.partitions"


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _holds(owner: str, df) -> bool:
    return any(f is df for f in caching._live.get(owner, []))


def test_raising_body_leaves_nothing_registered_or_persisted(spark):
    before = _persistent_rdd_ids(spark)
    with pytest.raises(ValueError, match="boom"):
        with caching.operator_scope(spark, OWNER) as s:
            df = s.keep(spark.range(10).selectExpr("id * 2 AS x"))
            assert df.count() == 10
            assert _holds(OWNER, df)
            assert _persistent_rdd_ids(spark) - before  # materialized
            raise ValueError("boom")
    assert caching._live.get(OWNER, []) == []
    assert not df.storageLevel.useMemory
    assert _persistent_rdd_ids(spark) - before == set()


def test_keep_after_scope_exit_raises(spark):
    with caching.operator_scope(spark, OWNER) as s:
        kept = s.keep(spark.range(3))
    with pytest.raises(RuntimeError, match="after its operator scope exited"):
        s.keep(spark.range(4))
    assert [f is kept for f in caching._live.get(OWNER, [])] == [True]
    caching.release(OWNER)
    assert not kept.storageLevel.useMemory


def test_scoped_conf_restored_on_exit_and_on_exception(spark):
    outer = spark.conf.get(CONF_KEY)
    with caching.operator_scope(spark, OWNER, conf={CONF_KEY: "7"}):
        assert spark.conf.get(CONF_KEY) == "7"
    assert spark.conf.get(CONF_KEY) == outer
    with pytest.raises(ValueError):
        with caching.operator_scope(spark, OWNER, conf={CONF_KEY: "9"}):
            assert spark.conf.get(CONF_KEY) == "9"
            raise ValueError
    assert spark.conf.get(CONF_KEY) == outer
    caching.release(OWNER)


def test_scope_entry_releases_only_its_own_owner(spark):
    # distinct row counts: the cache manager matches plans up to aliases
    with caching.operator_scope(spark, OWNER) as s:
        first = s.keep(spark.range(5).selectExpr("id AS a"))
        first.count()
    with caching.operator_scope(spark, OWNER + "_other") as s:
        other = s.keep(spark.range(7).selectExpr("id AS b"))
        other.count()
    with caching.operator_scope(spark, OWNER) as s:
        assert not first.storageLevel.useMemory  # own predecessor released
        assert other.storageLevel.useMemory  # another owner's frame kept
        second = s.keep(spark.range(6).selectExpr("id AS a"))
    assert [f is second for f in caching._live.get(OWNER, [])] == [True]
    for owner in (OWNER, OWNER + "_other"):
        caching.release(owner)
    assert not other.storageLevel.useMemory


#: (owner A, owner B, whether B's returned frame is itself registered):
#: invoking B must not drop A's returned cached frame, and re-invoking A
#: must release A's predecessor. The triangle/pagerank pair once shared one
#: wholesale-released list in mlprep.
CROSS_OWNER_PAIRS = [
    ("c4_content_defined_chunking", "c4_jpeg_baseline_decode", True),
    ("pipeline_rag_retrieval", "b6_cached_scan_reuse", False),
    ("b3_triangle_count_copurchase", "b3_pagerank_copurchase", True),
]


@pytest.mark.parametrize(
    "owner_a,owner_b,b_returns_kept",
    CROSS_OWNER_PAIRS,
    ids=[f"{a}-{b}" for a, b, _ in CROSS_OWNER_PAIRS],
)
def test_caches_are_keyed_per_owner(spark, owner_a, owner_b, b_returns_kept):
    """r09/r11 ADVICE: a module-wide release list meant invoking one
    operator unpersisted another's returned frame — an interleaved consumer
    holding both silently re-executed the first operator's whole pipeline.
    Each invocation releases only its own predecessor."""
    a = registry.QUERIES[owner_a](spark, SF)
    assert a.storageLevel.useMemory
    assert _holds(owner_a, a)
    b = registry.QUERIES[owner_b](spark, SF)
    b.collect()
    # B's invocation must NOT have dropped A's returned frame
    assert a.storageLevel.useMemory
    assert _holds(owner_a, a)
    assert _holds(owner_b, b) == b_returns_kept
    # re-invoking A releases A's predecessor (and only it): the persisted
    # RDD set is back to the same size, and the registry holds the new frame
    n_rdds = len(_persistent_rdd_ids(spark))
    prev_a = list(caching._live.get(owner_a, []))
    a2 = registry.QUERIES[owner_a](spark, SF)
    assert _holds(owner_a, a2)
    assert not any(_holds(owner_a, f) for f in prev_a)
    assert len(_persistent_rdd_ids(spark)) == n_rdds
    for owner in (owner_a, owner_b):
        caching.release(owner)
    assert not a2.storageLevel.useMemory


_PLAIN_WIDTH = re.compile(r"hashpartitioning\([^\n]*?, 200\)")


def test_graph_caches_compile_inside_their_scope(spark):
    """r16: persist() compiles the cached physical plan at registration, so
    a cache registered before an operator's shuffle scope opened baked the
    plain session's 200-wide exchanges into every iteration join. At that
    plain width, no plan these owners cache may carry one."""
    from apache_iceberg_demo_spark.operators import dedup

    owners = {
        "b3_pagerank_copurchase": ["b3_pagerank_copurchase"],
        "b3_bfs_reachability": ["b3_bfs_reachability"],
        "b3_bellman_ford_bounded": ["b3_bellman_ford_bounded"],
        "c2_dedup_clusters": ["minhash_lsh_pairs", "connected_components"],
        "pipeline_rag_retrieval": ["pipeline_rag_retrieval"],
    }
    # rebuild the LSH pairs under the plain width, not a memo from earlier
    caching.release("minhash_lsh_pairs")
    dedup._pairs_memo.clear()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    with scoped_conf(spark, {CONF_KEY: "200"}):
        for query, query_owners in owners.items():
            registry.QUERIES[query](spark, SF).collect()
            n_cached = 0
            for owner in query_owners:
                for df in caching._live.get(owner, []):
                    cached = cache_manager.lookupCachedData(df._jdf)
                    if cached.isEmpty():  # released early by its own loop
                        continue
                    n_cached += 1
                    plan = (
                        cached.get().cachedRepresentation().cacheBuilder()
                        .cachedPlan().toString()
                    )
                    assert not _PLAIN_WIDTH.search(plan), (owner, plan)
            assert n_cached, query
    for query_owners in owners.values():
        for owner in query_owners:
            caching.release(owner)
    dedup._pairs_memo.clear()
