"""Shared, memoized per-document 8-gram table over the full corpus.

Two registered queries build the SAME tokenize -> distinct-8-gram
subtree over the unfiltered documents table: benchmark decontamination
(q775 — eval-gram broadcast + training-side left join) and the
MassiveText duplicate-n-gram filter (z8301 — gram document frequencies).
Before round 12 each evaluated the gram pipeline from scratch — and
q775 evaluated it TWICE (once per eval/train branch), which is why it
was the worst cold entry of the 10x scale smoke (18.1x first-touch,
2.3x warm: the cost was gram-pipeline JIT + recomputation, not the
downstream joins). Now the first caller materializes (doc_id, grams)
once (functions/memo.py) and every branch of every consumer reads the
checkpoint — the same shared-intermediate move as the co-purchase graph
(functions/copurchase.py) and the near-dup pair graph
(functions/neardup.py).

Scale accounting: the gram table is data-linear (~8x the text bytes as
distinct shingle strings) and spills via MEMORY_AND_DISK; on a cluster
the equivalent is writing it once as a parquet intermediate and fanning
the gram consumers out from it. bench.py and `tools/measure.py scale` time
the build as an explicit `_build_doc_grams` entry so the consumers pay
marginals, mirroring the other two shared builds.

NOT shared: gram pipelines over FILTERED doc subsets or different gram
widths — only the full-corpus distinct-8-gram table lives here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import load_table
from .memo import session_memo


def grams_plan(docs: DataFrame) -> DataFrame:
    """Unmaterialized (doc_id, grams) pipeline over a documents table —
    exposed separately so tests can assert the build's plan shape (the
    memoized accessor's checkpoint boundary would hide the scan).

    The tokens are bound as a materialized column BEFORE the shingle
    transform — the q_north.shingle_expr rule: an inline split() inside
    the higher-order lambda (CodegenFallback, no common-subexpression
    elimination) re-splits the full text once per shingle start,
    O(tokens^2) per document. Short fixture docs never show it; a
    100k-token document at corpus scale never finishes."""
    from pyspark.sql import functions as F

    from ..plans.q_corpus import _grams8, _tokens

    return docs.select("doc_id", _tokens().alias("toks")).select(
        "doc_id", _grams8(F.col("toks")).alias("grams")
    )


def doc_grams8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, grams array<string>): every document's DISTINCT 8-token
    shingles (empty array below 8 tokens), materialized once per
    (application, sf_dir)."""

    def build() -> DataFrame:
        return grams_plan(load_table(spark, sf_dir, "documents"))

    return session_memo(spark, sf_dir, "corpus:doc_grams8", build)
