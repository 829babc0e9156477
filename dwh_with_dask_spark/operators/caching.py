"""Caller-owned lifecycle for operator-internal persists.

Several operators materialize an intermediate table because multiple
consumers in their own plan would otherwise re-derive it (the inverted
shingle index in ``dedup.shingle_pairs``, the MinHash signature table
in ``dedup.minhash_lsh_pairs``, the fingerprint table in
``curation.contamination_pairs``). Those persists cannot be released
inside the operator: the returned DataFrame is lazy and still
references them, so unpersisting before the caller materializes would
silently recompute the expensive stage and negate the persist.

``CacheScope`` makes the lifecycle explicit and caller-owned:

    with CacheScope() as scope:
        pairs = shingle_pairs(docs, "jaccard", "naive", threshold=0.3,
                              scope=scope)
        result = pairs.collect()          # caches live while needed
    # scope exit unpersists every intermediate — nothing left behind

When the caller does not pass a scope, the operator persists through a
throwaway ``CacheScope()``: the "already cached, don't claim it" rule
of ``CacheScope.persist`` still applies, and the entries belong to the
session until ``spark.catalog.clearCache()``. Dropping the result does
not free them: CacheManager holds its own reference to each cached
plan, so neither Python nor JVM garbage collection reclaims the
blocks. Long-lived sessions pass a scope, or clear the session cache
between independent units of work (the registry runners do the
latter).

Iterative operators (PageRank, connected components, the BPE merge
loop) instead ``pin`` each round's frame: an eager ``localCheckpoint``
that materializes the rows and cuts the lineage, so the logical plan
stays flat across iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


class CacheScope:
    """Collects DataFrames persisted on behalf of a caller and releases
    them together. Context-manager friendly; re-entrant ``release`` is a
    no-op on an empty scope."""

    def __init__(self, level: StorageLevel = StorageLevel.MEMORY_AND_DISK):
        self.level = level
        self._dfs: list[DataFrame] = []

    def persist(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` at the scope's storage level and track it.

        Spark's CacheManager keys entries by analyzed plan, so two scopes
        persisting identical plans share ONE cache entry. If ``df``'s plan
        is already cached (storageLevel shows memory/disk use), this scope
        neither re-persists (CacheManager would only warn) nor claims the
        entry — claiming it would let this scope's release unpersist the
        shared entry out from under the original owner, silently
        recomputing their expensive stage. The owning scope releases it.
        """
        lvl = df.storageLevel
        if lvl.useMemory or lvl.useDisk or lvl.useOffHeap:
            return df
        out = df.persist(self.level)
        self._dfs.append(out)
        return out

    def release(self, blocking: bool = False) -> None:
        """Unpersist every tracked DataFrame (oldest first)."""
        while self._dfs:
            self._dfs.pop(0).unpersist(blocking)

    def __enter__(self) -> "CacheScope":
        return self

    def __exit__(self, *exc) -> None:
        self.release()


def pin(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now and truncate its lineage (an eager
    ``localCheckpoint``). A fixpoint loop that only persists caches the
    data but leaves its logical plan growing one round deeper per
    iteration, which blows up plan compilation long before any executor
    does real work; pinning each round keeps the plan flat."""
    return df.localCheckpoint(eager=True)
