"""Connected-components correctness: the distributed large-star /
small-star alternation must match a reference union-find on every input
we can throw at it — crafted chain/star/cycle graphs, hypothesis-random
graphs, and the fixture's real near-dup pair set."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from eprints_to_hyku_data_tool_spark.functions.graph import (
    cluster_dedupe,
    connected_components,
)
from eprints_to_hyku_data_tool_spark.plans.registry import REGISTRY, _load_all
from eprints_to_hyku_data_tool_spark.sources.tables import load_table

_load_all()


def union_find(pairs: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: every node -> min of its component
    comp: dict[int, list[int]] = {}
    for x in parent:
        comp.setdefault(find(x), []).append(x)
    return {x: min(members) for root, members in comp.items() for x in members}


def spark_components(spark, pairs: list[tuple[int, int]]) -> dict[int, int]:
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    return {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }


def test_chain_star_cycle_shapes(spark):
    # a 12-node path (worst case for label propagation), a star, a
    # cycle, and two singleton edges — all in one edge list
    path = [(i, i + 1) for i in range(100, 112)]
    star = [(200, x) for x in range(201, 208)]
    cycle = [(300, 301), (301, 302), (302, 300)]
    extra = [(400, 401), (500, 501)]
    pairs = path + star + cycle + extra
    assert spark_components(spark, pairs) == union_find(pairs)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_matches_union_find_on_random_graphs(spark, edges):
    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    assert spark_components(spark, edges) == union_find(edges)


def test_cluster_dedupe_on_fixture_neardups(spark, sf_dir):
    """Cluster dedup over the real MinHash near-dup pairs: exactly one
    survivor (the component min) per cluster, all other members dropped,
    non-members untouched."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = REGISTRY["z11660_minhash_lsh"].fn(spark, sf_dir).select("id_a", "id_b")
    ref = union_find([(r["id_a"], r["id_b"]) for r in pairs.collect()])
    out = {r["doc_id"]: r["is_dropped"] for r in cluster_dedupe(docs, pairs).collect()}
    for doc, comp in ref.items():
        assert out[doc] == (comp != doc), (doc, comp)
    members = set(ref)
    assert not any(dropped for d, dropped in out.items() if d not in members)


def test_cluster_dedupe_rejects_column_clash(spark):
    """code-review r15 (the salted_pair_groups guard applied here): the
    post-join drop('node', 'component') removes EVERY column of those
    names, so a docs frame already carrying one would lose it silently
    — and an existing is_dropped would be overwritten. Loud instead."""
    import pytest

    docs = spark.createDataFrame([(1, 5)], "doc_id long, node long")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="node"):
        cluster_dedupe(docs, pairs)
    docs2 = spark.createDataFrame([(1, True)], "doc_id long, is_dropped boolean")
    with pytest.raises(ValueError, match="is_dropped"):
        cluster_dedupe(docs2, pairs)


def test_pagerank_matches_numpy_power_iteration(spark, sf_dir):
    """y45's distributed PageRank vs an independent dense numpy power
    iteration on the identical edge set: same formula (damping 0.85,
    uniform dangling redistribution, 10 iterations), max abs rank
    difference bounded by float noise, mass conserved."""
    import numpy as np

    from eprints_to_hyku_data_tool_spark.functions.graph import pagerank
    from eprints_to_hyku_data_tool_spark.plans.q_analytics import (
        pagerank_ranks,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    rows = li.collect()
    by_order: dict[int, set[int]] = {}
    for r in rows:
        by_order.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    edge_set = {
        (p, q)
        for parts in by_order.values()
        for p in parts
        for q in parts
        if p != q
    }
    nodes = sorted({p for e in edge_set for p in e})
    idx = {p: i for i, p in enumerate(nodes)}
    n = len(nodes)
    deg = np.zeros(n)
    for s, _ in edge_set:
        deg[idx[s]] += 1
    rank = np.full(n, 1.0 / n)
    d = 0.85
    for _ in range(10):
        contrib = np.zeros(n)
        out = rank / np.maximum(deg, 1)
        for s, t in edge_set:
            contrib[idx[t]] += out[idx[s]]
        dangling = rank[deg == 0].sum()
        rank = (1 - d) / n + d * (contrib + dangling / n)

    got = {r["node"]: r["rank"] for r in pagerank_ranks(spark, sf_dir).collect()}
    assert set(got) == set(nodes)
    diffs = [abs(got[p] - rank[idx[p]]) for p in nodes]
    assert max(diffs) < 1e-9, max(diffs)
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_no_node_sized_broadcast_hints(spark, sf_dir, monkeypatch):
    """VERDICT r3 items 3-4: PageRank and triangle count must not
    broadcast-HINT node-sized tables (ranks, contribs, degree) — at
    billion-node scale those don't fit an executor broadcast. AQE may
    still promote joins to broadcast at runtime when sides are small;
    the ban is on the mandatory hint, so we spy on F.broadcast during
    plan construction of both graph queries."""
    import pyspark.sql.functions as sqlf

    from eprints_to_hyku_data_tool_spark.plans.q_analytics import (
        pagerank_ranks,
        q117566_triangle_count,
    )

    calls: list[int] = []
    real = sqlf.broadcast

    def spy(df):
        calls.append(1)
        return real(df)

    monkeypatch.setattr(sqlf, "broadcast", spy)
    # pagerank_ranks, not the registered q88 wrapper: the wrapper adds a
    # legitimate ONE-ROW edge-count broadcast for its verdict join; the
    # ban is on node-sized tables inside the iteration. (The dangling
    # branch broadcasts a ONE-ROW mass aggregate, but this co-occurrence
    # graph is symmetric — no dangling nodes — so any broadcast seen
    # here would be a node-sized regression.)
    pagerank_ranks(spark, sf_dir)
    assert not calls, "pagerank used a broadcast hint"
    q117566_triangle_count(spark, sf_dir)
    assert not calls, "triangle count used a broadcast hint"


def test_pagerank_iterations_run_zero_driver_collects(spark, monkeypatch):
    """r4 verdict item 5: the dangling-mass term must be relational — a
    per-iteration scalar collect() serializes rounds on a cluster. Build
    PageRank over a graph WITH dangling nodes (2 has no out-edge) under a
    collect spy: zero collects may fire during construction, and the
    ranks must still match the dense power iteration."""
    import numpy as np
    from pyspark.sql import DataFrame

    from eprints_to_hyku_data_tool_spark.functions.graph import pagerank

    calls: list[int] = []
    real_collect = DataFrame.collect

    def spy(self):
        calls.append(1)
        return real_collect(self)

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (3, 0)], ["src", "dst"]
    )
    monkeypatch.setattr(DataFrame, "collect", spy)
    ranks_df = pagerank(edges, n_iter=10)
    assert not calls, "pagerank construction ran a driver collect"
    monkeypatch.setattr(DataFrame, "collect", real_collect)

    got = {r["node"]: r["rank"] for r in ranks_df.collect()}
    # dense reference: node 2 is dangling
    n, d = 4, 0.85
    out = {0: [1, 2], 1: [2], 2: [], 3: [0]}
    rank = np.full(n, 1.0 / n)
    for _ in range(10):
        contrib = np.zeros(n)
        for s, ts in out.items():
            for t in ts:
                contrib[t] += rank[s] / len(ts)
        dangling = sum(rank[s] for s, ts in out.items() if not ts)
        rank = (1 - d) / n + d * (contrib + dangling / n)
    for i in range(n):
        assert abs(got[i] - rank[i]) < 1e-12, (i, got[i], rank[i])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_copurchase_memo_builds_once_per_session(spark, sf_dir):
    """The shared graph module's whole point: the edge set, degrees,
    oriented edges, and triangles are materialized ONCE per
    (applicationId, sf_dir) and every consumer gets the SAME
    checkpointed DataFrame — a second call must not rebuild. Also pin
    the derived-table invariants the consumers rely on."""
    from eprints_to_hyku_data_tool_spark.functions import copurchase as cp

    und1 = cp.undirected_edges(spark, sf_dir)
    und2 = cp.undirected_edges(spark, sf_dir)
    assert und1 is und2  # memo hit, not a rebuild
    assert cp.degrees(spark, sf_dir) is cp.degrees(spark, sf_dir)
    assert cp.oriented_edges(spark, sf_dir) is cp.oriented_edges(
        spark, sf_dir
    )
    assert cp.triangle_node_stats(spark, sf_dir) is cp.triangle_node_stats(
        spark, sf_dir
    )

    n_und = und1.count()
    assert n_und > 0
    # undirected canonical form: u < v, distinct
    assert und1.filter(F.col("u") >= F.col("v")).count() == 0
    assert und1.distinct().count() == n_und
    # directed = both directions of the same set
    assert cp.directed_edges(spark, sf_dir).count() == 2 * n_und
    # oriented: one row per undirected edge, low-(deg,id) -> high
    ori = cp.oriented_edges(spark, sf_dir)
    assert ori.count() == n_und
    # degree sum = 2 * edges (handshake lemma)
    deg_sum = cp.degrees(spark, sf_dir).agg(F.sum("deg")).collect()[0][0]
    assert deg_sum == 2 * n_und


def test_copurchase_memo_keys_isolate_sf_dirs(spark, sf_dir):
    """Two fixture tiers must not collide in the memo (a cached sf0.01
    edge set served for sf0.001 would silently corrupt every graph
    query at the smaller tier)."""
    from eprints_to_hyku_data_tool_spark.functions import copurchase as cp

    other = "/root/testdata/sf0.001"
    a = cp.undirected_edges(spark, sf_dir)
    b = cp.undirected_edges(spark, other)
    assert a is not b
    assert a.count() != b.count()


def test_graph_family_reads_shared_checkpoint_not_parquet(spark, sf_dir):
    """The shared-graph contract in plan form: once the memoized edge
    set exists, a graph query's physical plan reads the checkpointed
    RDD — it must NOT re-scan lineitem parquet or re-run the self-join
    (the r5 shape rebuilt the edge set per query). q64 still scans
    part.parquet for its labels, which is fine — the ban is on
    lineitem."""
    import contextlib
    import io

    from eprints_to_hyku_data_tool_spark.functions import copurchase as cp
    from eprints_to_hyku_data_tool_spark.plans.registry import REGISTRY

    cp.triangle_node_stats(spark, sf_dir)  # ensure the memo is built

    def plan(name):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            REGISTRY[name].fn(spark, sf_dir).explain("formatted")
        return buf.getvalue()

    for name in ("q117566_triangle_count", "q117551_clustering_coefficient",
                 "z117565_degree_powerlaw"):
        p = plan(name)
        assert "Scan ExistingRDD" in p, (name, p)
        assert "lineitem" not in p, (name, p)


def test_reliable_checkpoint_switch(spark, sf_dir, tmp_path, monkeypatch):
    """SPARK_GRAFT_CHECKPOINT_DIR switches the memo/iteration
    materializer from localCheckpoint to reliable DataFrame.checkpoint
    — the cluster fault-tolerance posture as an executable switch, not
    a docstring claim. Run PageRank and connected components (iterative,
    checkpoints inside the loop) under the switch, repointing the dir
    after every checkpoint: results must be bit-identical to the
    local-checkpoint run, every checkpoint must be reliable AND eager
    (a lazy reliable checkpoint recomputes its lineage:
    functions/checkpointing.py), and the checkpoint files must actually
    land in the directories."""
    import os

    from eprints_to_hyku_data_tool_spark.functions.graph import pagerank

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 0), (3, 0)], ["src", "dst"]
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )

    def run():
        ranks = {r["node"]: r["rank"] for r in pagerank(edges, n_iter=5).collect()}
        comps = {
            r["node"]: r["component"]
            for r in connected_components(pairs).collect()
        }
        return ranks, comps

    base = run()

    frame = type(edges)
    real_checkpoint = frame.checkpoint
    eagers, local_calls = [], []

    def recording_checkpoint(self, eager=True):
        eagers.append(eager)
        out = real_checkpoint(self, eager)
        monkeypatch.setenv(
            "SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / f"ckpt{len(eagers)}")
        )
        return out

    monkeypatch.setattr(frame, "checkpoint", recording_checkpoint)
    monkeypatch.setattr(
        frame, "localCheckpoint", lambda self, *a, **k: local_calls.append(1)
    )
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ckpt0"))
    got = run()
    assert got == base  # identical FP sequence either way
    assert local_calls == []
    assert len(eagers) > 2 and all(eagers), eagers
    # the reliable store was actually written
    found = any(files for _, _, files in os.walk(tmp_path))
    assert found, f"no checkpoint files under {tmp_path}"


def test_reliable_materialize_computes_input_once(spark, tmp_path, monkeypatch):
    """materialize(df, eager=False) under SPARK_GRAFT_CHECKPOINT_DIR
    must checkpoint eagerly: a lazy reliable checkpoint writes its files
    in a second job that recomputes the lineage, so two actions would
    evaluate every upstream row twice. A counting UDF upstream must run
    once per row, as it does on the local path."""
    from eprints_to_hyku_data_tool_spark.functions.checkpointing import (
        materialize,
    )

    calls = spark.sparkContext.accumulator(0)

    def tick(x):
        calls.add(1)
        return x

    tick_udf = F.udf(tick, "long")

    def evaluations():
        calls.value = 0
        df = materialize(
            spark.range(1000).select(tick_udf("id").alias("id")), eager=False
        )
        assert df.count() == 1000
        assert len(df.collect()) == 1000
        return calls.value

    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    assert evaluations() == 1000
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ckpt"))
    assert evaluations() == 1000


def test_pagerank_empty_graph(spark):
    from eprints_to_hyku_data_tool_spark.functions.graph import pagerank

    empty = spark.createDataFrame([], "src bigint, dst bigint")
    out = pagerank(empty)
    assert out.columns == ["node", "rank"]
    assert out.count() == 0


def test_connected_components_rejects_uncastable_ids(spark):
    """code-review r14: non-numeric ids used to cast('long') to NULL,
    the u != v filter then dropped EVERY edge, and cluster dedupe
    silently reported zero duplicates. The cast is now guarded with an
    in-plan raise_error; integral-valued strings still pass."""
    import pytest as _pytest

    from eprints_to_hyku_data_tool_spark.functions.graph import (
        connected_components,
    )

    ok = spark.createDataFrame(
        [("1", "2"), ("2", "3"), ("7", "8")], "id_a string, id_b string"
    )
    comps = {
        r["node"]: r["component"]
        for r in connected_components(ok).collect()
    }
    assert comps == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}

    bad = spark.createDataFrame(
        [("doc-1", "doc-2")], "id_a string, id_b string"
    )
    with _pytest.raises(Exception, match="not castable to long"):
        connected_components(bad).collect()


def test_triangle_node_stats_matches_enumeration(spark, sf_dir):
    """The O(nodes) shared intermediate must agree with the exploded
    triangle enumeration it replaced: per-node membership counts equal
    the explode-count over triangles_plan, and sum(n_apex) equals the
    triangle count (every triangle has exactly one min-id corner)."""
    from eprints_to_hyku_data_tool_spark.functions import copurchase as cp

    ori = cp.oriented_edges(spark, sf_dir)
    tri = cp.triangles_plan(ori)
    want_total = tri.count()
    want_pernode = {
        r["node"]: r["n"]
        for r in tri.select(
            F.explode(F.array("a", "b", "c")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    stats = cp.triangle_node_stats(spark, sf_dir)
    got = {r["node"]: (r["n_triangles"], r["n_apex"]) for r in stats.collect()}
    assert {k: v[0] for k, v in got.items()} == want_pernode
    assert sum(v[1] for v in got.values()) == want_total
    assert want_total > 0  # fixture graph has triangles; test has teeth


def test_session_cleans_reliable_checkpoints(spark):
    """code-review r14: without cleanCheckpoints, reliable checkpoint
    FILES (the SPARK_GRAFT_CHECKPOINT_DIR posture) accumulate for the
    life of the app — one O(edges) directory per iterative round. The
    session factory must pin the cleaner flag (context-creation config,
    not settable later)."""
    assert (
        spark.conf.get("spark.cleaner.referenceTracking.cleanCheckpoints")
        == "true"
    )
