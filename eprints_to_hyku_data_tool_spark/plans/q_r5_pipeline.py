"""Round-5 batch E: training-pipeline operators — the tokenizer/
featurization/split steps that sit between the corpus-hygiene passes
(dedup, quality, decontamination) and the model.

- q43  BPE tokenizer training (3 greedy merge rounds over the vocab table)
- q44  feature hashing (hashing-trick featurization, signed buckets)
- q45  train/test split + near-dup leakage audit (cross-split pairs)
- q46  quantile-rank normalization (distributed rank transform)
- q47  Mahalanobis outlier scoring (moments -> Cramer inverse -> top-k)
- q48  ALS recommender half-step (per-user 2x2 normal-equation solve)
- q49  migration reconciliation diff (row fingerprints, full-outer SMJ)

Cross-engine hash discipline: q43-q45 are pure integer/string relational
work; q46's quantile is one IEEE division of exact positions; q47's
score is a FIXED expression tree over exactly-aggregated moments
(deterministic doubles, same bits on both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ..functions.checkpointing import materialize
from .registry import register

# --------------------------------------------------------------------------
# Q43 — BPE tokenizer training (greedy pair merges, word-frequency table)
# --------------------------------------------------------------------------
_BPE_ROUNDS = 3

# The merge engine is literal string replace() over a normalized spacing
# scheme — IDENTICAL semantics on both engines (left-to-right,
# non-overlapping): a word's symbol sequence is rendered as
# ' s1  s2  s3 ' (ONE space at the ends, TWO between symbols); the pair
# pattern ' p1  p2 ' consumes p2's left separator space, and the
# replacement ' p1p2 ' restores one — so after any replacement every
# token still has >= 1 space on each side and every separator still
# totals two spaces. Greedy non-overlap falls out of the scan order:
# ' a  a  a ' -> ' aa  a ', ' a  a  a  a ' -> ' aa  aa '.


def _bpe_cte() -> str:
    """The shared oracle CTE chain: vocabulary build + merge rounds.
    q43 appends the merge-table select; y81 (encode) appends per-word
    symbol counts over the final s{N}."""
    parts = ["""
    WITH w0 AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM
        (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY w),
    s0 AS (SELECT w, freq,
                  ' ' || array_to_string(string_split_regex(w, ''), '  ')
                      || ' ' AS s
           FROM w0)"""]
    for r in range(1, _BPE_ROUNDS + 1):
        parts.append(f""",
    pr{r} AS (
      SELECT t.p1, t.p2, CAST(SUM(t.freq) AS BIGINT) AS cnt FROM (
        SELECT freq, toks[u.i] AS p1, toks[u.i + 1] AS p2
        FROM (SELECT freq, string_split(trim(s), '  ') AS toks
              FROM s{r - 1}),
             UNNEST(range(1, len(toks))) AS u(i)) t
      GROUP BY 1, 2),
    top{r} AS (SELECT p1, p2, cnt FROM pr{r}
               ORDER BY cnt DESC, p1, p2 LIMIT 1),
    s{r} AS (SELECT w, freq,
                    replace(s, ' ' || top{r}.p1 || '  ' || top{r}.p2 || ' ',
                               ' ' || top{r}.p1 || top{r}.p2 || ' ') AS s
             FROM s{r - 1}, top{r})""")
    return "".join(parts)


def _bpe_oracle() -> str:
    sel = "\n    UNION ALL\n".join(
        f"    SELECT {r} AS round, p1 || '+' || p2 AS pair, cnt AS pair_count"
        f" FROM top{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
    return _bpe_cte() + "\n" + sel


def _bpe_learn(spark: SparkSession, sf_dir: str):
    """Shared learner: returns (final vocab df (w, freq, s), merge-row
    dfs). q43 returns the merge table; y81 (q_r5_overflow) encodes the
    corpus with the final symbol strings."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    chars = F.array_remove(F.split("w", ""), "")
    cur = words.select(
        "w",
        "freq",
        F.concat(
            F.lit(" "), F.concat_ws("  ", chars), F.lit(" ")
        ).alias("s"),
    ).transform(lambda df: materialize(df, eager=False))

    merge_rows = []
    for r in range(1, _BPE_ROUNDS + 1):
        toks = F.split(F.trim(F.col("s")), "  ")
        pairs = (
            cur.select(
                "freq",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.size(toks) - 2),
                        lambda i: F.struct(
                            F.element_at(toks, i + 1).alias("p1"),
                            F.element_at(toks, i + 2).alias("p2"),
                        ),
                    )
                ).alias("pr"),
            )
            .filter(F.size(toks) >= 2)
            .select("freq", "pr.p1", "pr.p2")
        )
        top = (
            pairs.groupBy("p1", "p2")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "p1", "p2")
            .limit(1)
            .transform(lambda df: materialize(df, eager=False))
        )
        merge_rows.append(
            top.select(
                F.lit(r).alias("round"),
                F.concat("p1", F.lit("+"), "p2").alias("pair"),
                F.col("cnt").alias("pair_count"),
            )
        )
        cur = (
            cur.crossJoin(F.broadcast(top))
            .select(
                "w",
                "freq",
                F.expr(
                    "replace(s, concat(' ', p1, '  ', p2, ' '), "
                    "concat(' ', p1, p2, ' '))"
                ).alias("s"),
            )
            .transform(lambda df: materialize(df, eager=False))
        )
    return cur, merge_rows



@register(
    "q9343_bpe_train",
    oracle=_bpe_oracle(),
    doc="Byte-pair-encoding tokenizer training (Sennrich scheme): the "
    "corpus reduces to a (word, frequency) vocabulary table ONCE, "
    "then each round counts frequency-weighted adjacent symbol pairs, "
    "picks the global argmax (count DESC, pair ASC tie-break — a "
    "one-row TakeOrdered broadcast), and greedily merges that pair in "
    "every word via a literal string replace over a normalized "
    "spacing scheme whose left-to-right non-overlapping semantics are "
    "identical in Spark and DuckDB (see module comment) — so three "
    "merge rounds produce the exact same merge table on both engines "
    "with zero float anywhere. Output: (round, merged_pair, count). "
    "At 100 TB the heavy pass is the initial word count (one "
    "partial-agg shuffle over the corpus); every merge round then "
    "touches only the vocabulary table (millions of rows, not the "
    "corpus), each round one pair-count shuffle + a broadcast scalar "
    "— which is exactly how production BPE trainers scale. Rounds "
    "are lazily checkpointed (q88 lineage discipline).",
)
def q9343_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, merge_rows = _bpe_learn(spark, sf_dir)
    out = merge_rows[0]
    for mr in merge_rows[1:]:
        out = out.unionAll(mr)
    return out


# --------------------------------------------------------------------------
# Q44 — feature hashing (hashing trick, signed buckets)
# --------------------------------------------------------------------------
_FH_BUCKETS = 256


@register(
    "q9344_feature_hashing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents),
    h AS (
      SELECT tok,
             CAST(('0x' || substr(md5(tok), 1, 4)) AS BIGINT)
               % {_FH_BUCKETS} AS bucket,
             CASE WHEN substr(md5(tok), 5, 1) IN
                    ('8','9','a','b','c','d','e','f')
                  THEN -1 ELSE 1 END AS sgn
      FROM toks WHERE tok <> '')
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_toks,
           CAST(SUM(sgn) AS BIGINT) AS signed_mass
    FROM h GROUP BY bucket
    """,
    doc="Hashing-trick featurization (Weinberger et al.): every token "
    "maps to one of 256 buckets via the first 4 hex chars of md5 "
    "(md5 is the repo's portable cross-engine hash — z66's rule) with "
    "a +-1 sign from the 5th hex char, the collision-unbiasing trick "
    "of signed feature hashing. Output per bucket: token count, "
    "distinct-token load (collision audit), and signed mass. ONE "
    "shuffle keyed by the 256-value bucket (map-side combine does "
    "nearly all the work; the sign column keeps the expectation of "
    "collision noise at zero). At 100 TB this replaces an unbounded "
    "vocabulary join with a fixed-width dense vector — the standard "
    "out-of-core featurizer; bucket count is a constant, so the "
    "reduce side never grows with the corpus.",
)
def q9344_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    md5 = F.md5(F.col("tok").cast("binary"))
    h = toks.select(
        "tok",
        (F.conv(F.substring(md5, 1, 4), 16, 10).cast("long") % _FH_BUCKETS)
        .alias("bucket"),
        F.when(
            F.substring(md5, 5, 1).isin(
                "8", "9", "a", "b", "c", "d", "e", "f"
            ),
            F.lit(-1),
        )
        .otherwise(F.lit(1))
        .alias("sgn"),
    )
    return h.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count_distinct("tok").alias("n_distinct_toks"),
        F.sum("sgn").cast("long").alias("signed_mass"),
    )


# --------------------------------------------------------------------------
# Q45 — train/test split + near-dup leakage audit
# --------------------------------------------------------------------------
@register(
    "q9345_split_leakage",
    oracle="""
    WITH split AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))
                  AS BIGINT) % 4 = 0 AS is_test
      FROM documents),
    t AS (
      SELECT doc_id,
             list_distinct(
               list_transform(
                 range(1, greatest(len(string_split(text,' ')) - 1, 1)),
                 i -> string_split(text,' ')[i] || ' ' ||
                      string_split(text,' ')[i+1] || ' ' ||
                      string_split(text,' ')[i+2])) AS sh
      FROM documents),
    -- |A n B| per pair from an equi-join on the (distinct) shingles, so
    -- only pairs sharing a shingle are ever formed; two shingle-less docs
    -- share none yet meet the bound (0 >= 0), so they are added apart.
    u AS (SELECT doc_id, unnest(sh) AS s FROM t),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM u a JOIN u b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      UNION ALL
      SELECT a.doc_id, b.doc_id, 0
      FROM t a JOIN t b ON a.doc_id < b.doc_id
      WHERE len(a.sh) = 0 AND len(b.sh) = 0),
    pairs AS (
      SELECT id_a, id_b
      FROM shared
      JOIN t a ON a.doc_id = shared.id_a
      JOIN t b ON b.doc_id = shared.id_b
      WHERE 5 * inter >= 4 * (len(a.sh) + len(b.sh) - inter))
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM split WHERE NOT is_test)
             AS n_train,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM split WHERE is_test)
             AS n_test,
           CAST(COUNT(*) AS BIGINT) AS n_neardup_pairs,
           CAST(SUM(CASE WHEN sa.is_test <> sb.is_test THEN 1 ELSE 0 END)
                AS BIGINT) AS n_cross_split_leaks
    FROM pairs
    JOIN split sa ON sa.doc_id = pairs.id_a
    JOIN split sb ON sb.doc_id = pairs.id_b
    """,
    doc="Train/test split with near-duplicate leakage audit: documents "
    "split ~75/25 by a deterministic md5-of-id hash (never by position "
    "— hash splits are reproducible under reshuffling and appends), "
    "then every EXACT shingle-Jaccard >= 0.8 near-dup pair (the z86 "
    "prefix-filtered PPJoin kernel — sub-quadratic, no collect) is "
    "checked for crossing the split boundary. A cross-split near-dup "
    "is test-set contamination that survives exact dedup — the audit "
    "every eval pipeline needs beside z75's external decontamination. "
    "Output: one verdict row (train/test sizes, near-dup pair count, "
    "cross-split leak count). The pair set is the full-corpus verified "
    "graph the z86/z85/z302 family shares, read from the session-"
    "memoized materialization (functions/neardup) rather than re-run "
    "per call — r15; remaining per-call shuffles are the two id-keyed "
    "split joins, and at 100 TB the pair set is near-dup-sized, not "
    "corpus-sized.",
)
def q9345_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.neardup import verified_pairs

    docs = load_table(spark, sf_dir, "documents")
    split = docs.select(
        "doc_id",
        (
            F.conv(
                F.substring(
                    F.md5(F.col("doc_id").cast("string").cast("binary")),
                    1,
                    1,
                ),
                16,
                10,
            ).cast("long")
            % 4
            == 0
        ).alias("is_test"),
    )
    # The audited pair set is the FULL-corpus verified shingle-Jaccard
    # graph — construction-identical to functions/neardup.pairs_plan
    # (same unfiltered documents table, same doc_shingles /
    # exact_jaccard_pairs / verify_jaccard_candidates chain, same tau),
    # so read the session-memoized materialization the z86/z85/z302
    # family already shares instead of re-running the whole
    # prefix-filter + verify pipeline per call. The r15 before-plan
    # scanned documents NINE times and re-planned the four PPJoin
    # shuffles inside this query; the after-plan reads the checkpointed
    # pair rows plus three pruned doc_id-only scans for the split
    # bookkeeping (optimization guide §2.4: shared intermediates are
    # materialized once and fanned out).
    pairs = verified_pairs(spark, sf_dir).select("id_a", "id_b")
    sa = split.select(
        F.col("doc_id").alias("id_a"), F.col("is_test").alias("test_a")
    )
    sb = split.select(
        F.col("doc_id").alias("id_b"), F.col("is_test").alias("test_b")
    )
    tagged = pairs.join(sa, "id_a").join(sb, "id_b")
    sizes = split.agg(
        F.sum(F.when(~F.col("is_test"), 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
        F.sum(F.when(F.col("is_test"), 1).otherwise(0))
        .cast("long")
        .alias("n_test"),
    )
    leaks = tagged.agg(
        F.count(F.lit(1)).alias("n_neardup_pairs"),
        F.sum(
            F.when(F.col("test_a") != F.col("test_b"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_cross_split_leaks"),
    )
    # Explicit hint: with automatic broadcasting disabled (cluster-shaped
    # config) an unhinted 1x1 cross join degrades to CartesianProduct.
    return sizes.crossJoin(F.broadcast(leaks))


# --------------------------------------------------------------------------
# Q46 — quantile-rank normalization (distributed rank transform)
# --------------------------------------------------------------------------
@register(
    "z129346_quantile_rank",
    oracle="""
    WITH o AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders),
    r AS (SELECT o_orderkey, cents,
                 CAST(ROW_NUMBER() OVER (ORDER BY cents, o_orderkey)
                      AS INT) AS pos,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM o) AS n
          FROM o)
    SELECT o_orderkey, cents, pos,
           CAST(pos - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS q
    FROM r
    """,
    doc="Quantile-rank normalization: every order total maps to its "
    "empirical quantile (pos-1)/(n-1) under the deterministic "
    "(cents, key) total order — the rank transform that makes "
    "features comparable across heavy-tailed distributions (and the "
    "exact counterpart of z187's parametric z-score). Positions come "
    "from the two-phase distributed global-position engine (z37 "
    "kernel: range shuffle + local ranks + broadcast offsets — never "
    "a single-partition window); the quantile itself is ONE IEEE "
    "division of two exact integers, bit-identical cross-engine. At "
    "100 TB the rank transform is a range shuffle — the same cost as "
    "any global sort, and the approximate path (z192 KLL quantiles + "
    "broadcast bucket map) is registered beside it.",
)
def z129346_quantile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.ordering import with_global_position

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    total = o.agg(F.count(F.lit(1)).alias("n"))
    pos = with_global_position(
        o, [F.col("cents"), F.col("o_orderkey")], "pos"
    )
    return pos.crossJoin(F.broadcast(total)).select(
        "o_orderkey",
        "cents",
        "pos",
        (
            (F.col("pos") - 1).cast("double")
            / (F.col("n") - 1).cast("double")
        ).alias("q"),
    )


# --------------------------------------------------------------------------
# Q47 — Mahalanobis outlier scoring (moments -> Cramer inverse -> top-k)
# --------------------------------------------------------------------------
@register(
    "q9347_mahalanobis",
    oracle="""
    WITH q AS (
      SELECT l_orderkey, l_linenumber,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS x1,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x2,
             CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS x3
      FROM lineitem),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
             CAST(SUM(x3) AS BIGINT) AS s3,
             CAST(SUM(x1 * x1) AS BIGINT) AS s11,
             CAST(SUM(x1 * x2) AS BIGINT) AS s12,
             CAST(SUM(x1 * x3) AS BIGINT) AS s13,
             CAST(SUM(x2 * x2) AS BIGINT) AS s22,
             CAST(SUM(x2 * x3) AS BIGINT) AS s23,
             CAST(SUM(x3 * x3) AS BIGINT) AS s33
      FROM q),
    c AS (
      SELECT CAST(n AS DOUBLE) AS nd,
             CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
             CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS m2,
             CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS m3,
             (CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS c11,
             (CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)
                / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS c12,
             (CAST(s13 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s3 AS DOUBLE)
                / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS c13,
             (CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
                / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS c22,
             (CAST(s23 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s3 AS DOUBLE)
                / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS c23,
             (CAST(s33 AS DOUBLE) - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE)
                / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS c33
      FROM m),
    inv AS (
      SELECT m1, m2, m3,
             (c11 * (c22 * c33 - c23 * c23) - c12 * (c12 * c33 - c23 * c13)
                + c13 * (c12 * c23 - c22 * c13)) AS det,
             (c22 * c33 - c23 * c23) AS a11,
             -(c12 * c33 - c23 * c13) AS a12,
             (c12 * c23 - c22 * c13) AS a13,
             (c11 * c33 - c13 * c13) AS a22,
             -(c11 * c23 - c12 * c13) AS a23,
             (c11 * c22 - c12 * c12) AS a33
      FROM c),
    scored AS (
      SELECT q.l_orderkey, q.l_linenumber,
             (CAST(x1 AS DOUBLE) - m1) *
               ((a11 / det) * (CAST(x1 AS DOUBLE) - m1)
                + (a12 / det) * (CAST(x2 AS DOUBLE) - m2)
                + (a13 / det) * (CAST(x3 AS DOUBLE) - m3))
             + (CAST(x2 AS DOUBLE) - m2) *
               ((a12 / det) * (CAST(x1 AS DOUBLE) - m1)
                + (a22 / det) * (CAST(x2 AS DOUBLE) - m2)
                + (a23 / det) * (CAST(x3 AS DOUBLE) - m3))
             + (CAST(x3 AS DOUBLE) - m3) *
               ((a13 / det) * (CAST(x1 AS DOUBLE) - m1)
                + (a23 / det) * (CAST(x2 AS DOUBLE) - m2)
                + (a33 / det) * (CAST(x3 AS DOUBLE) - m3)) AS md
      FROM q, inv)
    SELECT l_orderkey, l_linenumber, md
    FROM scored
    ORDER BY md DESC, l_orderkey, l_linenumber
    LIMIT 10
    """,
    doc="Mahalanobis outlier scoring over (quantity, discount, price): "
    "one exact-integer moment aggregation (the q40 pattern — ten "
    "numbers per partition cross the wire), covariance and its 3x3 "
    "inverse by adjugate/determinant in a FIXED expression tree, then "
    "a broadcast of that one-row model back onto the fact stream "
    "scores every row with the same fixed quadratic form — "
    "deterministic doubles, so the global top-10 (TakeOrdered, no "
    "sort) agrees bit-for-bit with the oracle. This is z187's "
    "correlation-aware upgrade: a z-score flags marginal extremes; "
    "Mahalanobis flags rows that are individually unremarkable but "
    "jointly inconsistent. At 100 TB: one scan + one 10-double "
    "broadcast + a second scan for scoring — no shuffle of the fact "
    "table at all.",
)
def q9347_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q = li.select(
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("x1"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5))
        .cast("long")
        .alias("x2"),
        F.floor(F.col("l_extendedprice") + F.lit(0.5))
        .cast("long")
        .alias("x3"),
    )
    m = q.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("x3").alias("s3"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x1") * F.col("x3")).alias("s13"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x2") * F.col("x3")).alias("s23"),
        F.sum(F.col("x3") * F.col("x3")).alias("s33"),
    )
    nd = F.col("n").cast("double")

    def dbl(c):
        return F.col(c).cast("double")

    def cov(sij, si, sj):
        return ((dbl(sij) - dbl(si) * dbl(sj) / nd) / nd)

    c = m.select(
        (dbl("s1") / nd).alias("m1"),
        (dbl("s2") / nd).alias("m2"),
        (dbl("s3") / nd).alias("m3"),
        cov("s11", "s1", "s1").alias("c11"),
        cov("s12", "s1", "s2").alias("c12"),
        cov("s13", "s1", "s3").alias("c13"),
        cov("s22", "s2", "s2").alias("c22"),
        cov("s23", "s2", "s3").alias("c23"),
        cov("s33", "s3", "s3").alias("c33"),
    )
    c11, c12, c13 = F.col("c11"), F.col("c12"), F.col("c13")
    c22, c23, c33 = F.col("c22"), F.col("c23"), F.col("c33")
    inv = c.select(
        "m1",
        "m2",
        "m3",
        (
            c11 * (c22 * c33 - c23 * c23)
            - c12 * (c12 * c33 - c23 * c13)
            + c13 * (c12 * c23 - c22 * c13)
        ).alias("det"),
        (c22 * c33 - c23 * c23).alias("a11"),
        (-(c12 * c33 - c23 * c13)).alias("a12"),
        (c12 * c23 - c22 * c13).alias("a13"),
        (c11 * c33 - c13 * c13).alias("a22"),
        (-(c11 * c23 - c12 * c13)).alias("a23"),
        (c11 * c22 - c12 * c12).alias("a33"),
    )
    dx1 = F.col("x1").cast("double") - F.col("m1")
    dx2 = F.col("x2").cast("double") - F.col("m2")
    dx3 = F.col("x3").cast("double") - F.col("m3")
    det = F.col("det")
    md = (
        dx1
        * (
            (F.col("a11") / det) * dx1
            + (F.col("a12") / det) * dx2
            + (F.col("a13") / det) * dx3
        )
        + dx2
        * (
            (F.col("a12") / det) * dx1
            + (F.col("a22") / det) * dx2
            + (F.col("a23") / det) * dx3
        )
        + dx3
        * (
            (F.col("a13") / det) * dx1
            + (F.col("a23") / det) * dx2
            + (F.col("a33") / det) * dx3
        )
    )
    scored = q.crossJoin(F.broadcast(inv)).select(
        "l_orderkey", "l_linenumber", md.alias("md")
    )
    return scored.orderBy(
        F.desc("md"), "l_orderkey", "l_linenumber"
    ).limit(10)


# --------------------------------------------------------------------------
# Q48 — ALS recommender half-step (per-user 2x2 normal-equation solve)
# --------------------------------------------------------------------------
_ALS_LAMBDA = 1  # ridge regularizer, exact integer


@register(
    "q9348_als_step",
    oracle=f"""
    WITH r AS (
      SELECT o.o_custkey AS user_id, l.l_partkey AS item_id,
             CAST(SUM(CAST(floor(l.l_quantity + 0.5) AS BIGINT)) AS BIGINT)
               AS rating
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2),
    f AS (
      SELECT p_partkey AS item_id,
             CAST(1 + p_partkey % 7 AS BIGINT) AS f1,
             CAST(1 + p_partkey % 11 AS BIGINT) AS f2
      FROM part),
    m AS (
      SELECT r.user_id,
             CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(SUM(f.f1 * f.f1) AS BIGINT) + {_ALS_LAMBDA} AS a11,
             CAST(SUM(f.f1 * f.f2) AS BIGINT) AS a12,
             CAST(SUM(f.f2 * f.f2) AS BIGINT) + {_ALS_LAMBDA} AS a22,
             CAST(SUM(r.rating * f.f1) AS BIGINT) AS b1,
             CAST(SUM(r.rating * f.f2) AS BIGINT) AS b2
      FROM r JOIN f ON r.item_id = f.item_id
      GROUP BY r.user_id)
    SELECT user_id, n_items,
           CAST(b1 * a22 - b2 * a12 AS DOUBLE)
             / CAST(a11 * a22 - a12 * a12 AS DOUBLE) AS u1,
           CAST(a11 * b2 - a12 * b1 AS DOUBLE)
             / CAST(a11 * a22 - a12 * a12 AS DOUBLE) AS u2
    FROM m
    """,
    doc="ALS (alternating least squares) recommender half-step: with "
    "item factors fixed (deterministic integer init from the item "
    "key), every user's rank-2 factor solves its own ridge-regularized "
    "2x2 normal-equation system. The per-user Gramians and "
    "right-hand sides accumulate as EXACT integer sums in one "
    "user-keyed partial-agg shuffle (the q40 moment pattern, "
    "per-group), and the Cramer solve keeps exact integer numerators "
    "and denominator — each factor is ONE IEEE division of two exact "
    "longs, bit-identical cross-engine. This is precisely how "
    "distributed ALS scales: the interaction matrix never "
    "materializes, item factors join on the item key (broadcast when "
    "the catalog fits, shuffle-join otherwise), and each user's solve "
    "is O(d^3) independent of every other user. The full algorithm "
    "alternates this step with its item-side mirror.",
)
def q9348_als_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    r = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item_id"),
        )
        .agg(
            F.sum(
                F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")
            ).alias("rating")
        )
    )
    f = part.select(
        F.col("p_partkey").alias("item_id"),
        (F.lit(1) + F.col("p_partkey") % 7).cast("long").alias("f1"),
        (F.lit(1) + F.col("p_partkey") % 11).cast("long").alias("f2"),
    )
    m = (
        r.join(f, "item_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.sum(F.col("f1") * F.col("f1")) + F.lit(_ALS_LAMBDA)).alias(
                "a11"
            ),
            F.sum(F.col("f1") * F.col("f2")).alias("a12"),
            (F.sum(F.col("f2") * F.col("f2")) + F.lit(_ALS_LAMBDA)).alias(
                "a22"
            ),
            F.sum(F.col("rating") * F.col("f1")).alias("b1"),
            F.sum(F.col("rating") * F.col("f2")).alias("b2"),
        )
    )
    det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    return m.select(
        "user_id",
        "n_items",
        (
            (F.col("b1") * F.col("a22") - F.col("b2") * F.col("a12")).cast(
                "double"
            )
            / det.cast("double")
        ).alias("u1"),
        (
            (F.col("a11") * F.col("b2") - F.col("a12") * F.col("b1")).cast(
                "double"
            )
            / det.cast("double")
        ).alias("u2"),
    )


# --------------------------------------------------------------------------
# Q49 — migration reconciliation diff (source vs migrated snapshot)
# --------------------------------------------------------------------------
@register(
    "q9349_reconcile",
    oracle="""
    WITH src AS (
      SELECT o_orderkey,
             md5(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) || '|' ||
                 o_orderstatus || '|' || o_orderpriority || '|' ||
                 CAST(epoch_us(o_orderdate) AS BIGINT)) AS fp
      FROM orders),
    tgt AS (
      SELECT o_orderkey,
             md5(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                   + CASE WHEN o_orderkey % 101 = 0 THEN 1 ELSE 0 END
                 || '|' || o_orderstatus || '|' || o_orderpriority || '|' ||
                 CAST(epoch_us(o_orderdate) AS BIGINT)) AS fp
      FROM orders WHERE o_orderkey % 97 <> 0),
    j AS (
      SELECT src.o_orderkey AS k_s, tgt.o_orderkey AS k_t,
             src.fp AS fp_s, tgt.fp AS fp_t
      FROM src FULL OUTER JOIN tgt ON src.o_orderkey = tgt.o_orderkey)
    SELECT CAST(SUM(CASE WHEN k_s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_source,
           CAST(SUM(CASE WHEN k_t IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_target,
           CAST(SUM(CASE WHEN k_t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_missing_in_target,
           CAST(SUM(CASE WHEN k_s IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_extra_in_target,
           CAST(SUM(CASE WHEN k_s IS NOT NULL AND k_t IS NOT NULL
                          AND fp_s <> fp_t THEN 1 ELSE 0 END) AS BIGINT)
             AS n_value_mismatch,
           CAST(SUM(CASE WHEN fp_s = fp_t THEN 1 ELSE 0 END) AS BIGINT)
             AS n_match
    FROM j
    """,
    doc="Migration reconciliation: the audit a repository-migration tool "
    "runs after every batch — does the target system hold exactly what "
    "the source sent? Each side reduces every record to a ROW "
    "FINGERPRINT (md5 over a canonical '|'-joined rendering with "
    "quantized money and epoch-us dates — the z59/z66 portable-hash "
    "rule), so the comparison shuffles 16-byte hashes plus keys, never "
    "record bodies; a full-outer sort-merge join on the key then "
    "classifies every record as matched / value-mismatch / missing / "
    "extra in ONE conditional aggregation. The 'migrated' side here "
    "simulates the two real failure modes (dropped batch rows: every "
    "97th key absent; in-flight corruption: every 101st price off by "
    "one cent). At 100 TB this is the cheapest possible full audit: "
    "two scans, one key-hash shuffle, one summary row out.",
)
def q9349_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")

    def fingerprint(cents_col):
        return F.md5(
            F.concat_ws(
                "|",
                cents_col.cast("string"),
                "o_orderstatus",
                "o_orderpriority",
                # o_orderdate is parquet TIMESTAMP_NTZ; NTZ wall-clock ==
                # UTC instant under the pinned UTC session tz (tables.py).
                F.unix_micros(
                    F.col("o_orderdate").cast("timestamp")
                ).cast("string"),
            ).cast("binary")
        )

    src = orders.select("o_orderkey", fingerprint(cents).alias("fp"))
    tgt = orders.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        fingerprint(
            cents
            + F.when(F.col("o_orderkey") % 101 == 0, 1).otherwise(0)
        ).alias("fp"),
    )
    s = src.alias("s")
    t = tgt.alias("t")
    j = s.join(t, F.col("s.o_orderkey") == F.col("t.o_orderkey"), "full")

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    ks = F.col("s.o_orderkey")
    kt = F.col("t.o_orderkey")
    return j.agg(
        cnt(ks.isNotNull()).alias("n_source"),
        cnt(kt.isNotNull()).alias("n_target"),
        cnt(kt.isNull()).alias("n_missing_in_target"),
        cnt(ks.isNull()).alias("n_extra_in_target"),
        cnt(
            ks.isNotNull()
            & kt.isNotNull()
            & (F.col("s.fp") != F.col("t.fp"))
        ).alias("n_value_mismatch"),
        cnt(F.col("s.fp") == F.col("t.fp")).alias("n_match"),
    )
