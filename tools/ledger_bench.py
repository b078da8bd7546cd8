"""Ledger-format scale evidence: measure the properties that make the
table format 100 TB-viable, at two fixture tiers, in one session.

Claims under test (sources/ledger.py):

1. **Copy-on-write MERGE is delta-bound, not table-bound.** On a
   key-clustered table (single-dim optimize_zorder == range layout), a
   1%-of-keys contiguous delta must rewrite ~1 of N groups, and the
   merge must be decisively cheaper than the full-rewrite
   counterfactual (overwrite with the same upsert). Across tiers the
   merge cost should grow far slower than the data.

2. **Multi-dimension z-order pruning pays at read time.** After
   optimize_zorder on (o_custkey, o_totalprice), a sub-half band read
   on the NON-KEY dimension must scan a strict subset of groups and
   beat the unpruned filter-the-snapshot read.

Method notes (mirrors `tools/measure.py scale`):
- One session; the small tier runs first to warm the JVM.
- Each measurement is one timed run of an action that materializes its
  result (count() for reads, the commit itself for writes) — parquet
  writes dominate write timings, which is the honest unit of work.
- Writes LEDGER_BENCH.json at the repo root.

Run:  python tools/ledger_bench.py
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from eprints_to_hyku_data_tool_spark.session import get_spark  # noqa: E402
from eprints_to_hyku_data_tool_spark.sources import ledger  # noqa: E402
from eprints_to_hyku_data_tool_spark.sources.tables import load_table  # noqa: E402

DEFAULT_TIERS = ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
N_GROUPS = 16


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return round(time.perf_counter() - t0, 3), out


def group_bytes(table: str, g: dict) -> int:
    root = os.path.join(table, g["path"])
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(root)
        for f in fs
    )


def tier_metrics(spark, sf_dir: str, work: str) -> dict:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    n = orders.count()
    # A contiguous ~1%-of-ROWS delta (50th..51st key percentile) with
    # bumped prices — percent-of-rows, not percent-of-keyspace, so the
    # slice never lands in a key gap on sparse/shifted key domains
    # (tools/make_scale_tier.py offsets copies by 10M keys).
    ks = orders.agg(
        F.expr("percentile(o_orderkey, 0.50)").alias("lo"),
        F.expr("percentile(o_orderkey, 0.51)").alias("hi"),
    ).first()
    dlo, dhi = int(ks["lo"]), int(ks["hi"])
    delta = orders.filter(
        (F.col("o_orderkey") >= dlo) & (F.col("o_orderkey") < dhi)
    ).withColumn("o_totalprice", F.col("o_totalprice") + 1.0)

    out = {"rows": n, "delta_rows": delta.count()}

    # ---- 1. key-clustered table: delta-bound MERGE -------------------
    t_key = os.path.join(work, "t_key")
    out["create_s"], _ = timed(
        lambda: ledger.create(spark, t_key, orders, key="o_orderkey")
    )
    out["optimize_key_s"], _ = timed(
        lambda: ledger.optimize_zorder(
            spark, t_key, ["o_orderkey"], target_rows=max(1, n // N_GROUPS)
        )
    )
    groups_before = ledger.history(t_key)[-1]["groups"]
    out["merge_s"], _ = timed(lambda: ledger.merge(spark, t_key, delta))
    groups_after = ledger.history(t_key)[-1]["groups"]
    before_paths = {g["path"] for g in groups_before}
    after_paths = {g["path"] for g in groups_after}
    out["groups_total"] = len(groups_before)
    out["groups_rewritten"] = len(before_paths - after_paths)
    # Byte accounting — the 100 TB-relevant number: a merge's write
    # amplification is (bytes WRITTEN by the merge — the new post-merge
    # groups: replaced survivors plus the inserted delta) / (table
    # bytes); a full snapshot rewrite is ~1.0 by definition.
    total_b = sum(group_bytes(t_key, g) for g in groups_before)
    rewritten_b = sum(
        group_bytes(t_key, g)
        for g in groups_after
        if g["path"] not in before_paths
    )
    out["table_bytes"] = total_b
    out["merge_write_amplification"] = round(rewritten_b / total_b, 4)

    # DELETE WHERE hitting the same key slice: two jobs (probe +
    # staged rewrite of only the matched groups).
    out["delete_s"], _ = timed(
        lambda: ledger.delete_where(
            spark, t_key, f"o_orderkey >= {dlo} AND o_orderkey < {dhi}"
        )
    )
    g_before_del = {g["path"] for g in groups_after}
    g_after_del = {
        g["path"] for g in ledger.history(t_key)[-1]["groups"]
    }
    out["groups_rewritten_delete"] = len(g_before_del - g_after_del)

    # Counterfactual: the same upsert as a full snapshot rewrite.
    upsert = orders.join(
        delta.select("o_orderkey"), "o_orderkey", "left_anti"
    ).unionByName(delta)
    out["full_rewrite_s"], _ = timed(
        lambda: ledger.overwrite(spark, t_key, upsert)
    )

    # ---- 2. 2-D z-order table: read-side pruning ---------------------
    t_z = os.path.join(work, "t_z")
    ledger.create(
        spark,
        t_z,
        orders,
        key="o_orderkey",
        stats_cols=["o_custkey", "o_totalprice"],
    )
    out["optimize_zorder_s"], _ = timed(
        lambda: ledger.optimize_zorder(
            spark,
            t_z,
            ["o_custkey", "o_totalprice"],
            target_rows=max(1, n // N_GROUPS),
        )
    )
    band = orders.agg(
        F.expr("percentile(o_totalprice, 0.05)").alias("lo"),
        F.expr("percentile(o_totalprice, 0.40)").alias("hi"),
    ).first()
    pruned = ledger.read(
        spark, t_z, between={"o_totalprice": (band["lo"], band["hi"])}
    )
    # Local reads sit at the ~0.1 s scheduler floor; min-of-3 de-noises
    # (the byte fraction below is the scale-operative number anyway).
    out["read_pruned_s"], pruned_n = min(
        (timed(pruned.count) for _ in range(3)), key=lambda r: r[0]
    )
    scanned = pruned.select(
        F.input_file_name().alias("f")
    ).distinct().collect()
    groups_z = ledger.history(t_z)[-1]["groups"]
    scanned_groups = [
        g for g in groups_z if any(g["path"] in r.f for r in scanned)
    ]
    out["groups_scanned"] = len(scanned_groups)
    out["groups_z_total"] = len(groups_z)
    z_total_b = sum(group_bytes(t_z, g) for g in groups_z)
    out["read_bytes_fraction"] = round(
        sum(group_bytes(t_z, g) for g in scanned_groups) / z_total_b, 4
    )
    full = ledger.read(spark, t_z).filter(
        F.col("o_totalprice").between(band["lo"], band["hi"])
    )
    out["read_unpruned_s"], full_n = min(
        (timed(full.count) for _ in range(3)), key=lambda r: r[0]
    )
    assert pruned_n == full_n, (pruned_n, full_n)
    out["band_rows"] = pruned_n
    return out


def metadata_metrics(
    spark, work: str, n_groups: int = 10_000, n_versions: int = 1_000
) -> dict:
    """The metadata-plane ladder (r12 verdict item 3): commit and
    restart-scan cost at the ~100 TB-representative tier of ~10k file
    groups and ~1k versions, measured on PURE metadata commits
    (synthetic group entries; the data plane's flatness is measured by
    tier_metrics — this isolates what the old full-snapshot-manifest
    format serialized per commit).

    Claims under test:
    - a commit at 10k groups writes an O(delta) manifest (KB), not the
      O(#groups) JSON (MB) a full-snapshot manifest would be — the
      checkpoint carries that cost once per CHECKPOINT_INTERVAL;
    - `latest_txn` / state resolution after 1k versions is an anchored
      walk (≤ interval reads), not an O(#versions) scan — the stream-
      restart cost."""
    t = os.path.join(work, "t_meta")
    one = spark.createDataFrame([(0, 0.0)], "k long, v double")
    ledger.create(spark, t, one, key="k")

    def fake_group(i: int) -> dict:
        return {
            "path": f"data/fake-{i:08d}",
            "rows": 1000,
            "min_key": i * 1000,
            "max_key": i * 1000 + 999,
        }

    # Seed one bulk commit to n_groups (the initial-load shape).
    parent = ledger._read_manifest(t, ledger.latest_version(t))
    seed = [fake_group(i) for i in range(n_groups)]
    seed_s, _ = timed(
        lambda: ledger._commit(
            t,
            ledger._new_manifest(parent, "append", parent["groups"] + seed),
        )
    )
    out = {
        "groups": n_groups,
        "versions": n_versions,
        "seed_commit_s": seed_s,
    }

    # n_versions single-group appends with a txn action each — the
    # streaming-sink steady state. Mean includes the amortized
    # checkpoint writes (every CHECKPOINT_INTERVALth commit).
    d = ledger._ledger_path(t)
    t0 = time.perf_counter()
    for i in range(n_versions):
        parent = ledger._read_manifest(t, ledger.latest_version(t))
        ledger._commit(
            t,
            ledger._new_manifest(
                parent,
                "append",
                parent["groups"] + [fake_group(n_groups + i)],
                txn={"app": "meta-bench", "batch": i},
            ),
        )
    out["commit_mean_ms"] = round(
        (time.perf_counter() - t0) / n_versions * 1000, 3
    )
    latest = ledger.latest_version(t)
    out["delta_manifest_bytes"] = os.path.getsize(
        os.path.join(d, ledger._manifest_name(latest))
    )
    chk_v = ledger.last_checkpoint(t)
    out["checkpoint_bytes"] = os.path.getsize(
        os.path.join(d, ledger._checkpoint_name(chk_v))
    )
    # What the pre-checkpoint format wrote on EVERY commit ~= the
    # checkpoint (a full group list); the ratio is the commit-cost win.
    out["delta_vs_full_manifest"] = round(
        out["delta_manifest_bytes"] / out["checkpoint_bytes"], 6
    )

    # Restart-scan costs, cold (in-process resolution cache cleared —
    # a fresh driver's first call).
    ledger._RESOLVE_CACHE.clear()
    out["latest_txn_cold_s"], hw = timed(
        lambda: ledger.latest_txn(t, "meta-bench")
    )
    assert hw == n_versions - 1, hw
    ledger._RESOLVE_CACHE.clear()
    out["resolve_latest_cold_s"], state = timed(
        lambda: ledger._read_manifest(t, latest)
    )
    assert len(state["groups"]) == n_groups + n_versions + 1
    # And after expiry (keep 20): the anchored chain still resolves.
    ledger.expire_history(t, keep_last=20)
    ledger._RESOLVE_CACHE.clear()
    out["latest_txn_after_expire_s"], hw = timed(
        lambda: ledger.latest_txn(t, "meta-bench")
    )
    assert hw == n_versions - 1, hw
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--tiers",
        nargs="+",
        default=DEFAULT_TIERS,
        help="two+ table dirs, smallest first (e.g. sf0.1 /tmp/scale10)",
    )
    ap.add_argument(
        "--metadata-only",
        action="store_true",
        help="run only the metadata-plane ladder (no data tiers)",
    )
    args = ap.parse_args()
    spark = get_spark()
    meta = {}
    # Two metadata tiers: 10k groups (the r12 verdict's asked-for
    # ceiling measurement) and 100k groups (the ~100 TB-representative
    # group count the module docstring reasons about).
    for label, n_groups, n_versions in (
        ("metadata", 10_000, 1_000),
        ("metadata_100k", 100_000, 300),
    ):
        meta_work = tempfile.mkdtemp(prefix="ledger-bench-meta-")
        try:
            meta[label] = metadata_metrics(
                spark, meta_work, n_groups=n_groups, n_versions=n_versions
            )
        finally:
            shutil.rmtree(meta_work, ignore_errors=True)
    if args.metadata_only:
        print(json.dumps(meta))
        return
    result = {"n_groups_target": N_GROUPS, "tiers": {}, **meta}
    for sf_dir in args.tiers:
        work = tempfile.mkdtemp(prefix="ledger-bench-")
        try:
            result["tiers"][sf_dir] = tier_metrics(spark, sf_dir, work)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    small, big = (result["tiers"][t] for t in (args.tiers[0], args.tiers[-1]))
    result["data_ratio"] = round(big["rows"] / small["rows"], 2)
    result["merge_ratio"] = round(big["merge_s"] / small["merge_s"], 2)
    result["merge_vs_full_rewrite"] = round(
        big["merge_s"] / big["full_rewrite_s"], 3
    )
    result["read_pruned_vs_unpruned"] = round(
        big["read_pruned_s"] / big["read_unpruned_s"], 3
    )
    result["merge_write_amplification"] = big["merge_write_amplification"]
    result["read_bytes_fraction"] = big["read_bytes_fraction"]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "LEDGER_BENCH.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
