"""Session-scoped materialization memo for shared intermediates.

Several query families analyze the same derived table (the co-purchase
graph, the verified near-dup pair set). Each registered query must stay
independently callable, so the sharing cannot live in the queries —
it lives here: the first caller materializes the build with an eager
localCheckpoint, later callers (same SparkContext, same sf_dir) get the
SAME checkpointed DataFrame. On a cluster the equivalent is writing the
intermediate once as a bucketed parquet table and fanning analyses out
from it.

Keys include SparkContext.applicationId so a stopped/recreated session
(test fixtures) never sees another context's checkpoint blocks, the
current materialization target (SPARK_GRAFT_CHECKPOINT_DIR or local) so
a repointed checkpoint dir cannot serve frames backed by pruned files,
and sf_dir so fixture tiers cannot collide (tests/test_graph.py pins
these properties). Memory is bounded: one entry per (app, target,
sf_dir, key); blocks are MEMORY_AND_DISK and are released by the
ContextCleaner when the application ends.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .checkpointing import checkpoint_target, materialize

_MEMO: dict[tuple[str, str, str, str], DataFrame] = {}
# One lock guards lookup/evict/insert AND the build itself: two threads
# racing on the same key must not each materialize (and checkpoint) the
# shared intermediate — the build IS the expensive thing the memo exists
# to deduplicate (ADVICE r6). Builds are seconds-long, so serializing
# concurrent builders of different keys is an acceptable cost for the
# guarantee; queries on an already-built key still return instantly once
# the builder releases the lock. REENTRANT because builds legitimately
# nest memo calls on the same thread (neardup components builds on
# verified_pairs; the copurchase family stacks edges -> degrees ->
# oriented) — a plain Lock self-deadlocks on the nested lookup.
_LOCK = threading.RLock()


def session_memo(
    spark: SparkSession,
    sf_dir: str,
    key: str,
    build: Callable[[], DataFrame],
    eager: bool = True,
) -> DataFrame:
    """``eager=False`` lets a build CHAIN defer its intermediate
    materializations to the chain's final (eager) entry: the last
    phase's one job computes the whole chain, storing blocks at every
    lazy cut, instead of one count pass per phase (the copurchase
    und/deg/oriented ladder). It is honoured on the local path only
    (functions/checkpointing.py). ``eager`` is not part of the key: the
    first builder's value wins for a key, which matters only on the
    local path, because reliable checkpoints are always eager."""
    app = spark.sparkContext.applicationId
    # The materialization TARGET is part of the identity (code-review
    # r13): repointing SPARK_GRAFT_CHECKPOINT_DIR mid-application (the
    # per-test tmp-dir pattern) must miss, not serve a DataFrame whose
    # reliable-checkpoint files live in the old — possibly pruned —
    # directory.
    target = checkpoint_target()
    tgt = target or "<local>"
    with _LOCK:
        # Evict entries from other (stopped) applications or other
        # checkpoint targets: their DataFrames are unusable (or backed
        # by files that may vanish) and pinning them would leak py4j
        # proxies without bound in a long-lived process that cycles
        # SparkSessions (the test-fixture pattern). Only the CURRENT
        # (app, target)'s entries can ever be served, so dropping the
        # rest is safe — worst case is a rebuild.
        stale = [k for k in _MEMO if k[0] != app or k[1] != tgt]
        for k in stale:
            del _MEMO[k]
        k = (app, tgt, sf_dir, key)
        df = _MEMO.get(k)
        if df is None:
            # Materialize into the target the key records, not a second
            # env read that a concurrent repoint could change
            # (code-review r15).
            df = materialize(build(), eager=eager, target=target)
            _MEMO[k] = df
        return df
