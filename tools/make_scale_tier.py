"""Synthesize a ~10x scale tier from the sf0.1 fixtures (VERDICT r6
item 4): the fixture tiers are too small to catch fits-in-memory
constants (LSH band widths, IVF sample sizes, basket-size assumptions),
so this script unions sf0.1 with key-shifted copies into a tier the
scale smoke (`tools/measure.py scale`) can run the heaviest queries at.

Copy construction, per copy i in 0..K-1 (copy 0 = the original bytes):

- Every entity key (+ its foreign-key references) shifts by i * OFFSET,
  so each copy is a disjoint, referentially-intact replica: joins,
  graphs, and windows scale data-linearly (the co-purchase graph gains
  K isomorphic components; per-user event streams gain K disjoint user
  populations). Shared dimensions (region, nation, and part/customer
  CATEGORY columns) stay unshifted -- group-by cardinalities hold while
  group sizes grow Kx, exactly like real data growth.
- documents.text is passed through a per-copy alphabet rotation
  (translate(text, a..z, rotated a..z)): word lengths, whitespace, and
  n_chars are preserved, WITHIN-copy near-dup structure is preserved
  (one bijection applied to the whole copy), but cross-copy shingle
  overlap drops to ~zero. A plain duplication would instead make every
  doc a 10-way exact twin and blow the pair graph up ~quadratically --
  a different (adversarial) workload, not a scale-up of this one.
- embeddings.embedding is rotated by i dimensions (slice+concat):
  norms and within-copy geometry are exactly preserved (a coordinate
  permutation is orthogonal), cross-copy cosine decorrelates.

Run:  python tools/make_scale_tier.py [--out /tmp/scale10] [--copies 10]
"""

from __future__ import annotations

import argparse
import os
import string
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

# One offset above every key in every table at sf0.1 (max is o_orderkey
# at 600k); a single constant keeps the copy arithmetic auditable.
OFFSET = 10_000_000

_ALPHA = string.ascii_lowercase

# (table, [key columns to shift]) -- every other column is carried as-is.
_SHIFTS: dict[str, list[str]] = {
    "region": [],
    "nation": [],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def _copy(df: DataFrame, table: str, i: int) -> DataFrame:
    if i == 0:
        return df
    out = df
    for k in _SHIFTS[table]:
        out = out.withColumn(k, F.col(k) + F.lit(i * OFFSET))
    if table == "documents":
        rot = _ALPHA[i % 26 :] + _ALPHA[: i % 26]
        out = out.withColumn("text", F.translate("text", _ALPHA, rot))
    if table == "embeddings":
        d = i % 64 or 1
        out = out.withColumn(
            "embedding",
            F.concat(
                F.slice("embedding", d + 1, 64 - d), F.slice("embedding", 1, d)
            ),
        )
    return out


def build_tier(spark, src: str, out: str, copies: int) -> None:
    # The per-copy transforms are periodic (text alphabet rotation is the
    # identity at i % 26 == 0; the embedding dimension rotation collides
    # at i % 64), so copy counts past 26 would silently introduce exact
    # cross-copy duplicate documents — the quadratic near-dup workload
    # this generator exists to avoid. Fail loudly instead.
    if not 1 <= copies <= 26:
        raise ValueError(
            f"copies must be in [1, 26] to keep every copy's text/embedding "
            f"transform distinct and non-identity; got {copies}"
        )
    os.makedirs(out, exist_ok=True)
    rows: dict[str, int] = {}
    for table, keys in _SHIFTS.items():
        base = spark.read.parquet(os.path.join(src, f"{table}.parquet"))
        if not keys:  # pure dimension: one copy
            tier = base
        else:
            tier = _copy(base, table, 0)
            for i in range(1, copies):
                tier = tier.unionByName(_copy(base, table, i))
        dst = os.path.join(out, f"{table}.parquet")
        # Match the fixture layout: a single .parquet FILE per table
        # (load_table reads files, not directories-of-parts).
        tmp = dst + ".d"
        tier.coalesce(max(1, copies // 2)).write.mode("overwrite").parquet(tmp)
        import glob as _g
        import shutil

        # A stale dst from a previous run with a DIFFERENT --copies must
        # go first in BOTH branches: moving a single part into a
        # surviving dst DIRECTORY would nest it beside the old parts and
        # spark.read would union old+new rows — silent tier corruption.
        if os.path.isfile(dst):
            os.remove(dst)
        if os.path.isdir(dst):
            shutil.rmtree(dst)
        parts = sorted(_g.glob(os.path.join(tmp, "part-*.parquet")))
        if len(parts) == 1:
            shutil.move(parts[0], dst)
            shutil.rmtree(tmp)
        else:
            # multi-part: keep the directory, readable by spark.read too
            shutil.move(tmp, dst)
        n = spark.read.parquet(dst).count()
        rows[table] = n
        print(f"{table}: {n} rows -> {dst}", flush=True)
    # Manifest: the smoke cross-checks its --copies against the copy
    # count the tier was ACTUALLY built with (code-review r15: a stale
    # /tmp/scale10 from a --copies 3 experiment, judged against a
    # --copies 10 linear bound of 20x, turns the gate vacuous — even a
    # quadratic scaler passes while the artifact records copies: 10).
    import json

    with open(os.path.join(out, "tier_manifest.json"), "w") as fh:
        json.dump({"copies": copies, "src": src, "rows": rows}, fh, indent=1)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/scale10")
    ap.add_argument("--copies", type=int, default=10)
    args = ap.parse_args()
    from eprints_to_hyku_data_tool_spark.session import get_spark

    spark = get_spark(app_name="make-scale-tier", cpus=16)
    build_tier(spark, args.src, args.out, args.copies)
    spark.stop()


if __name__ == "__main__":
    main()
