"""Operator persist lifecycle: an operator that caches an internal
intermediate releases it through the caller's CacheScope; without a
scope the entry belongs to the session until ``clearCache()``.

Verification is via the JVM block manager itself
(``sc._jsc.getPersistentRDDs()``), asserting on the DELTA of RDD ids
created by the operator under test rather than on absolute counts:
ContextCleaner may asynchronously reclaim unrelated cached RDDs from
earlier tests between reads, so baseline-equality on the count flakes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dwh_with_dask_spark.operators.caching import CacheScope
from dwh_with_dask_spark.operators.curation import contamination_pairs
from dwh_with_dask_spark.operators.dedup import minhash_lsh_pairs, shingle_pairs
from dwh_with_dask_spark.operators.ids import sequential_id


def _persisted_ids(spark) -> set:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return set(jmap.keySet().toArray())


@pytest.fixture
def docs(spark):
    rows = [(i, f"the quick brown fox jumps over lazy dog number {i} end") for i in range(40)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_jaccard_scope_releases(spark, docs):
    base = _persisted_ids(spark)
    with CacheScope() as scope:
        pairs = shingle_pairs(docs, "jaccard", "naive", threshold=0.0, scope=scope)
        pairs.count()
        created = _persisted_ids(spark) - base
        assert created  # the shingle index is pinned while in use
    assert not (_persisted_ids(spark) & created)


def test_minhash_lsh_scope_releases(spark, docs):
    base = _persisted_ids(spark)
    with CacheScope() as scope:
        minhash_lsh_pairs(docs, threshold=0.1, scope=scope).count()
        created = _persisted_ids(spark) - base
        assert created
    assert not (_persisted_ids(spark) & created)


def test_contamination_scope_releases(spark, docs):
    base = _persisted_ids(spark)
    with CacheScope() as scope:
        contamination_pairs(docs, scope=scope).count()
        created = _persisted_ids(spark) - base
        assert created
    assert not (_persisted_ids(spark) & created)


def test_sequential_id_checkpoint_safe_after_release(spark, docs):
    # Re-actioning a sequential_id result must never recompute the
    # nondeterministic stamp against stale offsets: the stamp is
    # checkpointed eagerly (lineage truncated), so the result stays
    # correct across a session cache clear and any number of actions.
    out, n, _bounds = sequential_id(docs, order_by=["doc_id"])
    assert n == 40
    ids1 = [r["ID"] for r in out.orderBy("doc_id").collect()]
    spark.catalog.clearCache()
    ids2 = [r["ID"] for r in out.orderBy("doc_id").collect()]
    assert ids1 == ids2 == list(range(1, 41))
    # lineage is truncated: the plan no longer contains the
    # monotonically_increasing_id stamp that made re-actions hazardous.
    assert "monotonically" not in out._jdf.queryExecution().analyzed().toString()


def test_released_result_still_correct(spark, docs):
    # Unpersist drops the cache, not the plan: a post-release action
    # recomputes and must return identical results. (This recompute-after-
    # release pattern is safe for pure-transform operators like the
    # Jaccard pairs; sequential_id is safe for another reason — it
    # checkpoints its nondeterministic stamp instead of persisting it.)
    with CacheScope() as scope:
        pairs = shingle_pairs(docs, "jaccard", "naive", threshold=0.0, scope=scope)
        before = pairs.count()
    assert pairs.count() == before


def test_shared_plan_single_cache_entry(spark, docs):
    # CacheManager keys entries by analyzed plan: a second scope that
    # persists an identical plan must NOT claim the entry, so releasing
    # the second scope leaves the first scope's cache intact.
    plan = docs.withColumn("k", F.sha2("text", 256))
    with CacheScope() as owner:
        owner.persist(plan)
        plan.count()
        assert plan.storageLevel.useMemory or plan.storageLevel.useDisk
        with CacheScope() as borrower:
            same = docs.withColumn("k", F.sha2("text", 256))
            out = borrower.persist(same)
            assert out is same  # tracked nothing, no re-persist
            assert not borrower._dfs
        # borrower released: the shared entry must survive
        assert plan.storageLevel.useMemory or plan.storageLevel.useDisk
    # owner released: entry gone
    assert not (plan.storageLevel.useMemory or plan.storageLevel.useDisk)


def _unscoped_pairs(spark, docs):
    return shingle_pairs(docs, "jaccard", "naive", threshold=0.0)


def _unscoped_incremental_batch(spark, docs):
    # The registry's dedup_incremental_batch ends in a select(); its
    # persisted index and batch signatures must still be reachable by
    # the session-wide release.
    from dwh_with_dask_spark.plans.llm import dedup_incremental_batch
    from tests.conftest import SF_SMOKE

    return dedup_incremental_batch(spark, SF_SMOKE)


@pytest.mark.parametrize(
    "build", [_unscoped_pairs, _unscoped_incremental_batch],
    ids=["shingle_pairs", "dedup_incremental_batch"],
)
def test_unscoped_persist_lives_until_clear_cache(spark, docs, build):
    # No caller scope: the operator's persists belong to the session.
    # Dropping the result and collecting garbage on both sides does not
    # free them (CacheManager holds its own reference); clearCache does.
    import gc

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cache_manager.isEmpty()
    out = build(spark, docs)
    # collect(), not count(): for a bare count Catalyst can eliminate
    # the incremental plan's left joins on unique keys, and with them
    # the cached signature table.
    out.collect()
    assert not cache_manager.isEmpty()
    del out
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    assert not cache_manager.isEmpty()
    spark.catalog.clearCache()
    assert cache_manager.isEmpty()


def test_sequential_id_degenerate_inputs(spark):
    # n_rows and the per-partition bounds come back explicitly, also on
    # the inputs with no rows, one row, and mostly empty partitions.
    empty = spark.createDataFrame([], "v long")
    out, n, bounds = sequential_id(empty, order_by=["v"])
    assert (n, bounds, out.collect()) == (0, [], [])

    one = spark.createDataFrame([(7,)], "v long")
    out, n, bounds = sequential_id(one, order_by=["v"])
    assert (n, bounds) == (1, [(1, 1)])
    assert [r["ID"] for r in out.collect()] == [1]

    sparse = spark.createDataFrame([(1,), (2,), (3,)], "v long").repartition(8)
    out, n, bounds = sequential_id(sparse)
    assert n == 3
    assert sorted(r["ID"] for r in out.collect()) == [1, 2, 3]
    # only non-empty partitions, in partition order, tiling 1..3
    assert all(lo <= hi for lo, hi in bounds)
    assert [i for lo, hi in bounds for i in range(lo, hi + 1)] == [1, 2, 3]
    by_part = (
        out.withColumn("p", F.spark_partition_id())
        .groupBy("p").agg(F.min("ID").alias("lo"), F.max("ID").alias("hi"))
        .orderBy("p").collect()
    )
    assert bounds == [(r["lo"], r["hi"]) for r in by_part]
