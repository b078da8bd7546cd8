"""Unit tests for the session-scoped materialization memo.

Uses stub sessions (only .sparkContext.applicationId is consulted) and a
stubbed-out materialize so no JVM is needed: what's under test is the
keying and lifecycle policy, not Spark itself — same-key reuse,
cross-sf_dir isolation, and the round-6 review fix that entries keyed to
STOPPED applications are evicted on access instead of leaking forever in
a process that cycles SparkSessions.
"""

from __future__ import annotations

import sys
from pathlib import Path
from types import SimpleNamespace

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from eprints_to_hyku_data_tool_spark.functions import memo as memo_mod


def _fake_spark(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def _with_identity_materialize(monkeypatch):
    # materialize() needs a JVM; the memo's contract is only that it is
    # called once per key with the built value.
    monkeypatch.setattr(memo_mod, "materialize", lambda df, **kw: df)


def test_same_key_builds_once(monkeypatch):
    _with_identity_materialize(monkeypatch)
    memo_mod._MEMO.clear()
    spark = _fake_spark("app-1")
    calls = []

    def build():
        calls.append(1)
        return object()

    a = memo_mod.session_memo(spark, "/sf", "k", build)
    b = memo_mod.session_memo(spark, "/sf", "k", build)
    assert a is b and len(calls) == 1


def test_sf_dir_and_key_isolated(monkeypatch):
    _with_identity_materialize(monkeypatch)
    memo_mod._MEMO.clear()
    spark = _fake_spark("app-1")
    a = memo_mod.session_memo(spark, "/sf1", "k", object)
    b = memo_mod.session_memo(spark, "/sf2", "k", object)
    c = memo_mod.session_memo(spark, "/sf1", "k2", object)
    assert a is not b and a is not c and b is not c


def test_stopped_app_entries_evicted(monkeypatch):
    _with_identity_materialize(monkeypatch)
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    memo_mod._MEMO.clear()
    old = _fake_spark("app-old")
    memo_mod.session_memo(old, "/sf", "k1", object)
    memo_mod.session_memo(old, "/sf", "k2", object)
    assert len(memo_mod._MEMO) == 2
    new = _fake_spark("app-new")
    fresh = memo_mod.session_memo(new, "/sf", "k1", object)
    # The two app-old entries are gone; only the new app's entry lives
    # (key = (app, target, sf_dir, key) since r13).
    assert set(memo_mod._MEMO) == {("app-new", "<local>", "/sf", "k1")}
    assert memo_mod._MEMO[("app-new", "<local>", "/sf", "k1")] is fresh
    memo_mod._MEMO.clear()

def test_nested_builds_do_not_deadlock(monkeypatch):
    # Builds legitimately nest memo calls on the SAME thread (neardup
    # components builds on verified_pairs; copurchase stacks edges ->
    # degrees -> oriented). The concurrency lock must therefore be
    # reentrant — a plain Lock hangs here forever (caught live in r7).
    _with_identity_materialize(monkeypatch)
    memo_mod._MEMO.clear()
    spark = _fake_spark("app-1")

    def inner():
        return "inner-value"

    def outer():
        return memo_mod.session_memo(spark, "/sf", "inner", inner) + "+outer"

    import threading

    result = {}
    t = threading.Thread(
        target=lambda: result.update(
            v=memo_mod.session_memo(spark, "/sf", "outer", outer)
        ),
        daemon=True,
    )
    t.start()
    t.join(timeout=10)
    assert not t.is_alive(), "nested session_memo call deadlocked"
    assert result["v"] == "inner-value+outer"
    memo_mod._MEMO.clear()


def test_concurrent_same_key_builds_once(monkeypatch):
    # The reason the lock exists (ADVICE r6): two threads racing on one
    # key must produce exactly one build.
    _with_identity_materialize(monkeypatch)
    memo_mod._MEMO.clear()
    spark = _fake_spark("app-1")
    import threading
    import time

    calls = []
    barrier = threading.Barrier(2)

    def build():
        calls.append(1)
        time.sleep(0.05)
        return object()

    def worker():
        barrier.wait()
        memo_mod.session_memo(spark, "/sf", "k", build)

    ts = [threading.Thread(target=worker, daemon=True) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=10)
    assert len(calls) == 1
    memo_mod._MEMO.clear()


def test_repointed_checkpoint_dir_misses(monkeypatch):
    """code-review r13: the memo key carries the materialization target
    — repointing SPARK_GRAFT_CHECKPOINT_DIR mid-application must
    rebuild, not serve a frame backed by the old (possibly pruned)
    directory. The build is materialized into the target the key
    records, with the caller's ``eager`` passed through unchanged
    (materialize alone makes reliable checkpoints eager)."""
    memo_mod._MEMO.clear()
    spark = _fake_spark("app-ckpt")
    calls, materialized = [], []

    def fake_materialize(df, **kw):
        materialized.append(kw)
        return df

    monkeypatch.setattr(memo_mod, "materialize", fake_materialize)

    def build():
        calls.append(1)
        return object()

    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", "/tmp/ckpt-a")
    a1 = memo_mod.session_memo(spark, "sf", "k", build, eager=False)
    a2 = memo_mod.session_memo(spark, "sf", "k", build)
    assert a1 is a2 and len(calls) == 1
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", "/tmp/ckpt-b")
    b1 = memo_mod.session_memo(spark, "sf", "k", build)
    assert b1 is not a1 and len(calls) == 2
    # and the old-target entry was evicted, not pinned
    assert all(k[1] == "/tmp/ckpt-b" for k in memo_mod._MEMO)
    assert materialized == [
        {"eager": False, "target": "/tmp/ckpt-a"},
        {"eager": True, "target": "/tmp/ckpt-b"},
    ]
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR")
    memo_mod.session_memo(spark, "sf", "k", build, eager=False)
    assert materialized[-1] == {"eager": False, "target": ""}
    assert set(memo_mod._MEMO) == {("app-ckpt", "<local>", "sf", "k")}
    memo_mod._MEMO.clear()
