"""Materialization strategy for shared and iterative intermediates.

Local mode uses DataFrame.localCheckpoint: blocks live in this JVM's
block manager (MEMORY_AND_DISK) — the right call on local[*], where
there is exactly one process anyway. On a real cluster localCheckpoint
is NOT fault-tolerant: blocks die with their executor, and a lost block
kills every consumer of a shared intermediate or an iteration's whole
lineage (which the checkpoint deliberately cut).

Setting SPARK_GRAFT_CHECKPOINT_DIR (read only by ``checkpoint_target``)
to a fault-tolerant path (HDFS/S3 on a cluster; any directory in tests)
switches every call site that materializes through here to reliable
DataFrame.checkpoint into that directory: the same lineage cut on
executor-loss-proof storage. The env var makes the cluster posture an
executable switch rather than a docstring claim (tests/test_graph.py
runs the graph family under it).

Eagerness is decided here alone. ``eager=False`` means "lazy is fine on
the local path", where a lazy localCheckpoint stores its blocks in the
first job that touches them. A reliable checkpoint is always eager: its
files are written by a separate job after the first action, which
recomputes the lineage, so a lazy one would compute its input twice.

Cleanup: localCheckpoint blocks are freed by the ContextCleaner when
the superseded DataFrames are GC'd. Reliable checkpoint FILES are only
freed the same way because the session factory sets
``spark.cleaner.referenceTracking.cleanCheckpoints`` (session.py, read
at context creation) — Spark's default leaves them on disk forever,
which at the iterative kernels' one-checkpoint-per-round cadence means
O(rounds x edges) of permanent storage on exactly the 100 TB posture
this switch exists for.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

_DIR_SET_FOR: dict[str, str] = {}


def checkpoint_target() -> str:
    """The reliable checkpoint directory (SPARK_GRAFT_CHECKPOINT_DIR),
    or "" for the local path."""
    return os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR", "")


def materialize(
    df: DataFrame, eager: bool = True, target: str | None = None
) -> DataFrame:
    """Checkpoint ``df``: reliable and eager into ``target`` when it is
    set, local (lazy when ``eager=False``) otherwise.

    ``target`` defaults to ``checkpoint_target()``. session_memo passes
    the target it keyed its cache by, so key and files agree even if
    another thread repoints the env var between the two reads."""
    if target is None:
        target = checkpoint_target()
    if not target:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    app = sc.applicationId
    # Track the directory VALUE per app, not just "was set": a caller
    # that repoints the env var mid-session (test fixtures with per-test
    # tmp dirs) must not keep writing into the first—possibly pruned—
    # directory.
    if _DIR_SET_FOR.get(app) != target or sc.getCheckpointDir() is None:
        sc.setCheckpointDir(target)
        _DIR_SET_FOR[app] = target
    return df.checkpoint(eager=True)
