"""Round-5 batch B: ML-adjacent corpus/embedding operators that a
training-data pipeline runs beside the dedup/quality passes already in
the registry (SURVEY.md §2.11 mandate; new capabilities, not variants):

- q22  distributed Gram/covariance matrix (the n-huge / d-small pattern)
- q23  product-quantization ANN with exact rerank + recall verdict
- q24  multinomial Naive Bayes language classifier (exact-count training)
- q25  k-NN majority-vote label classifier over the exact top-k kernel
- q26  multi-source BFS hop counts (iterative frontier, recursive oracle)
- q27  PSI drift audit between two time slices (feature monitoring)
- q28  zone-map skipping audit (min/max pruning soundness per partition)

Cross-engine hash discipline (registry.py rules): every float that enters
an aggregation is quantized to a 6dp decimal/integer FIRST so sums are
exact and order-free; every remaining IEEE step is either a single
division/multiply of exactly-computed operands (bit-identical on both
engines) or an ordered left-fold over a deterministic sequence; ln() and
other libm calls only ever feed a round(.., 6) output column.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import register

# --------------------------------------------------------------------------
# Q22 — distributed Gram matrix (X^T X over the embedding corpus)
# --------------------------------------------------------------------------
_GRAM_SCALE = 1_000_000.0  # 6dp quantization of embedding values


@register(
    "z138322_gram_matrix",
    oracle="""
    WITH e AS (
      SELECT vec_id,
             unnest(range(1, len(embedding) + 1)) AS dim,
             unnest(list_transform(
               range(1, len(embedding) + 1),
               i -> CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0, 0)
                         AS BIGINT))) AS v
      FROM embeddings)
    SELECT CAST(a.dim - 1 AS INT) AS i, CAST(b.dim - 1 AS INT) AS j,
           CAST(SUM(CAST(a.v AS HUGEINT) * b.v) AS DOUBLE) / 1e12 AS gram
    FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.dim <= b.dim
    GROUP BY 1, 2
    """,
    doc="Distributed Gram matrix X^T X over the embedding corpus — the "
    "building block of PCA/whitening/ridge at corpus scale, where n is "
    "huge and d is small: each Arrow batch contributes one d x d "
    "integer matmul (BLAS-shaped, no per-row Python), emitting only "
    "d(d+1)/2 partial cells per batch; one partial-agg shuffle keyed "
    "(i, j) sums them, so shuffle volume is O(partitions * d^2), "
    "independent of n. Values are quantized to 6dp integers BEFORE the "
    "matmul (z184's round-then-cast discipline), partials bounded "
    "|v|^2 * batch_rows << 2^63 (runtime-asserted), summed exactly in "
    "DECIMAL(38,0) — summation order cannot change the result. The "
    "only IEEE step is the final exact-integer -> double cast and one "
    "division by the squared scale. The DuckDB oracle computes the "
    "same integer sum via an unnest self-join with HUGEINT products.",
)
def z138322_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * F.lit(_GRAM_SCALE), 0).cast(
                "long"
            ),
        ).alias("v")
    )

    schema = "i int, j int, partial long"

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["v"].values).astype(np.int64)
            # int64 overflow guard: max |cell| of X^T X is bounded by
            # max|v|^2 * rows; embeddings are unit-scale so this is
            # ~1e12 * batch, far under 2^63 — but assert, don't assume.
            bound = int(np.abs(X).max() or 1) ** 2 * X.shape[0]
            assert bound < (1 << 62), f"gram partial may overflow: {bound}"
            G = X.T @ X
            d = G.shape[0]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {"i": iu.astype(np.int32), "j": ju.astype(np.int32),
                 "partial": G[iu, ju]}
            )

    partials = q.mapInPandas(gen, schema)
    return (
        partials.groupBy("i", "j")
        .agg(F.sum(F.col("partial").cast("decimal(38,0)")).alias("s"))
        .select(
            "i",
            "j",
            (F.col("s").cast("double") / F.lit(_GRAM_SCALE * _GRAM_SCALE))
            .alias("gram"),
        )
    )


# --------------------------------------------------------------------------
# Q23 — product-quantization ANN (ADC shortlist + exact rerank + verdict)
# --------------------------------------------------------------------------
_PQ_M = 16         # subspaces
_PQ_KSUB = 32      # centroids per subspace codebook
_PQ_SHORTLIST = 200  # ADC candidates per probe before exact rerank
_PQ_SAMPLE = 256   # codebook training sample (construction-collect budget)


def _lloyd(mat, k: int, iters: int = 8):
    """Deterministic Lloyd on an in-memory sample: init = first k rows,
    empty cells keep their previous centroid (same scheme as the IVF
    coarse quantizer in q_north._ivf_centroids)."""
    import numpy as np

    cen = mat[:k].copy()
    for _ in range(iters):
        d = (
            (mat * mat).sum(1)[:, None]
            - 2.0 * (mat @ cen.T)
            + (cen * cen).sum(1)[None, :]
        )
        a = d.argmin(1)
        for c in range(k):
            mask = a == c
            if mask.any():
                cen[c] = mat[mask].mean(0)
    return cen


def pq_topk_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN, the memory-bound 100 TB path: M=16
    sub-codebooks (32 centroids each) trained on a 256-row hash-ordered
    sample turn each d=64 float vector into 16 five-bit codes (10 bytes
    packed); asymmetric distance (ADC) scores candidates from per-probe
    lookup tables without touching the original vectors, and only the
    per-probe shortlist (200 rows) is reranked with exact cosine. All
    vectors are L2-normalized first so ADC's euclidean order IS the
    cosine order. One corpus scan: encode + ADC + per-partition
    shortlist happen in a single mapInPandas pass (rows after the map
    stage are partitions x probes x shortlist, independent of n); the
    rerank joins shortlist*probes rows back to the corpus by id. At
    100 TB the codes table is ~n * 10 bytes — the classic reason PQ
    beats IVF lists when RAM, not compute, is the constraint."""
    import numpy as np
    import pandas as pd

    from ..functions.vectors import normalized_matrix
    from .q_north import N_PROBES

    emb = load_table(spark, sf_dir, "embeddings")

    sample_rows = (
        emb.select("vec_id", "embedding")
        .orderBy(F.xxhash64("vec_id"), "vec_id")
        .limit(_PQ_SAMPLE)
        .collect()
    )
    S = np.array([r["embedding"] for r in sample_rows], dtype=np.float64)
    # Normalize: the rank target is COSINE, so the whole PQ pipeline
    # works on unit vectors — L2 ADC order then matches cosine order
    # (un-normalized ADC was measured at recall 0.47; normalized 0.9+).
    S /= np.maximum(np.linalg.norm(S, axis=1, keepdims=True), 1e-12)
    dsub = S.shape[1] // _PQ_M
    books = np.stack(
        [
            _lloyd(S[:, m * dsub : (m + 1) * dsub], _PQ_KSUB)
            for m in range(_PQ_M)
        ]
    )  # (M, KSUB, dsub)

    probe_rows = (
        emb.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(N_PROBES)
        .collect()
    )
    probe_ids = np.array([r["vec_id"] for r in probe_rows], dtype=np.int64)
    probe_raw = np.array(
        [r["embedding"] for r in probe_rows], dtype=np.float64
    )
    probe_raw /= np.maximum(
        np.linalg.norm(probe_raw, axis=1, keepdims=True), 1e-12
    )
    _, probe_norm = normalized_matrix(probe_rows, "vec_id", "embedding")

    # Per-probe ADC lookup tables: LUT[p, m, c] = ||probe_sub - c||^2.
    lut = np.stack(
        [
            np.stack(
                [
                    (
                        (probe_raw[:, m * dsub : (m + 1) * dsub] ** 2).sum(1)[
                            :, None
                        ]
                        - 2.0
                        * probe_raw[:, m * dsub : (m + 1) * dsub]
                        @ books[m].T
                        + (books[m] ** 2).sum(1)[None, :]
                    )[p]
                    for m in range(_PQ_M)
                ]
            )
            for p in range(len(probe_ids))
        ]
    )  # (P, M, KSUB)
    bc = spark.sparkContext.broadcast((books, probe_ids, lut, probe_norm))

    schema = "probe_id bigint, vec_id bigint, adc double"

    def gen(batches):
        books_, p_ids, lut_, _pn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].values).astype(np.float64)
            X /= np.maximum(
                np.linalg.norm(X, axis=1, keepdims=True), 1e-12
            )
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            n = X.shape[0]
            dsub_ = X.shape[1] // _PQ_M
            codes = np.empty((n, _PQ_M), dtype=np.int64)
            for m in range(_PQ_M):
                sub = X[:, m * dsub_ : (m + 1) * dsub_]
                d = (
                    (sub * sub).sum(1)[:, None]
                    - 2.0 * (sub @ books_[m].T)
                    + (books_[m] ** 2).sum(1)[None, :]
                )
                codes[:, m] = d.argmin(1)
            # ADC: dist[p, row] = sum_m LUT[p, m, codes[row, m]]
            dist = np.zeros((len(p_ids), n))
            for m in range(_PQ_M):
                dist += lut_[:, m, codes[:, m]]
            out = []
            for pi, pid in enumerate(p_ids):
                mask = ids != pid
                idx = np.nonzero(mask)[0]
                if len(idx) == 0:
                    continue
                top = idx[
                    np.argsort(dist[pi, idx], kind="stable")[:_PQ_SHORTLIST]
                ]
                out.append(
                    pd.DataFrame(
                        {
                            "probe_id": pid,
                            "vec_id": ids[top],
                            "adc": dist[pi, top],
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    partial = emb.select("vec_id", "embedding").mapInPandas(gen, schema)
    w = Window.partitionBy("probe_id").orderBy(F.asc("adc"), F.asc("vec_id"))
    shortlist = (
        partial.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _PQ_SHORTLIST)
        .select("probe_id", "vec_id")
    )

    @F.pandas_udf("double")
    def cos_to_probe(probe_id: pd.Series, embedding: pd.Series) -> pd.Series:
        import numpy as _np

        _books, p_ids, _lut, p_norm = bc.value
        lookup = {int(p): i for i, p in enumerate(p_ids)}
        m = _np.stack(embedding.values).astype(_np.float64)
        m /= _np.maximum(
            _np.linalg.norm(m, axis=1, keepdims=True), 1e-12
        )
        rows = _np.array([lookup[int(p)] for p in probe_id])
        return pd.Series(_np.einsum("ij,ij->i", m, p_norm[rows]))

    rerank_w = Window.partitionBy("probe_id").orderBy(
        F.desc("cos"), F.asc("vec_id")
    )
    return (
        shortlist.join(emb.select("vec_id", "embedding"), "vec_id")
        .withColumn("cos", cos_to_probe("probe_id", "embedding"))
        .withColumn("rank", F.row_number().over(rerank_w))
        .filter(F.col("rank") <= 5)
        .select("probe_id", F.col("vec_id").alias("neighbor_id"))
    )


@register(
    "z138323_pq_ann",
    oracle="""
    WITH p AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
               FROM embeddings ORDER BY vec_id LIMIT 50),
    r AS (SELECT p.probe_id, e.vec_id AS neighbor_id,
            row_number() OVER (PARTITION BY p.probe_id ORDER BY
              list_dot_product(p.pv, CAST(e.embedding AS DOUBLE[]))
              / (sqrt(list_dot_product(p.pv, p.pv))
                 * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                         CAST(e.embedding AS DOUBLE[]))))
              DESC, e.vec_id) AS rk
          FROM p JOIN embeddings e ON e.vec_id <> p.probe_id)
    SELECT CAST(COUNT(DISTINCT probe_id) AS INT) AS n_probes,
           CAST(5 AS INT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           TRUE AS recall_ge_80
    FROM r WHERE rk <= 5
    """,
    doc="Driver-checkable verdict over the PQ ANN path (z185's pattern): "
    "approximate PQ+ADC top-5 (10-byte codes, ADC shortlist 200, exact "
    "cosine rerank) joined against the EXACT top-5 (z61's distributed "
    "kernel); measured recall@5 emitted as a >= 0.8 boolean next to "
    "exact, relationally-recomputable audit columns. Approx values "
    "never enter the hashed output — only the verdict does. The exact "
    "scan is the audit cost; at 100 TB it runs on a sampled probe set "
    "while production serves from the 8-bytes-per-vector code table.",
)
def z138323_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .q_north import z11661_topk_similarity

    exact = z11661_topk_similarity(spark, sf_dir).select(
        "probe_id", "neighbor_id"
    )
    approx = pq_topk_approx(spark, sf_dir).withColumn("hit", F.lit(1))
    j = exact.join(approx, ["probe_id", "neighbor_id"], "left")
    return j.agg(
        F.count_distinct("probe_id").cast("int").alias("n_probes"),
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(F.coalesce("hit", F.lit(0))).alias("n_hit"),
    ).select(
        "n_probes",
        F.lit(5).cast("int").alias("k"),
        "n_exact",
        (F.col("n_hit") >= 0.8 * F.col("n_exact")).alias("recall_ge_80"),
    )


# --------------------------------------------------------------------------
# Q24 — multinomial Naive Bayes language classifier (exact-count training)
# --------------------------------------------------------------------------
@register(
    "z118324_naive_bayes",
    oracle="""
    WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
               FROM documents),
    tr AS (SELECT lang, unnest(toks) AS tok FROM d WHERE doc_id % 2 = 0),
    cnt AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
            FROM tr GROUP BY 1, 2),
    tot AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS t FROM tr GROUP BY 1),
    voc AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM tr),
    pri AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS nd
            FROM d WHERE doc_id % 2 = 0 GROUP BY lang),
    ntr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d WHERE doc_id % 2 = 0),
    tt AS (SELECT doc_id, lang AS lang_true, u.i AS pos, toks[u.i] AS tok
           FROM d, UNNEST(range(1, len(toks) + 1)) AS u(i)
           WHERE doc_id % 2 = 1),
    sc AS (SELECT tt.doc_id, tt.lang_true, tot.lang,
             list_reduce(
               list(CAST(COALESCE(cnt.c, 0) + 1 AS DOUBLE)
                    / CAST(tot.t + voc.v AS DOUBLE) ORDER BY tt.pos),
               (a, b) -> a * b)
               * (CAST(pri.nd AS DOUBLE) / CAST(ntr.n AS DOUBLE)) AS score
           FROM tt
           CROSS JOIN tot CROSS JOIN voc CROSS JOIN ntr
           JOIN pri ON pri.lang = tot.lang
           LEFT JOIN cnt ON cnt.lang = tot.lang AND cnt.tok = tt.tok
           GROUP BY tt.doc_id, tt.lang_true, tot.lang, tot.t, voc.v,
                    pri.nd, ntr.n),
    pred AS (SELECT doc_id, lang_true, lang AS lang_pred,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, lang) AS rk
             FROM sc)
    SELECT lang_true, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred WHERE rk = 1 GROUP BY 1, 2
    """,
    doc="Multinomial Naive Bayes language classifier, trained on even "
    "doc_ids and scored on odd ones, output as a confusion matrix. "
    "Training is EXACT integer counting (one partial-agg shuffle per "
    "count table; at 100 TB the model is a (lang x vocab) table that "
    "broadcasts). Scoring avoids the ln()-sum portability trap "
    "entirely: each add-one-smoothed token probability is ONE IEEE "
    "division of two exactly-counted integers (bit-identical on both "
    "engines), and the per-(doc, lang) posterior is an ORDERED "
    "left-fold product over token position (F.aggregate / "
    "list_reduce) times a one-division prior — every multiply happens "
    "in the same sequence on both engines, so the scores (down to "
    "~1e-60 for 40-token docs, well inside double range) are "
    "bit-identical and the argmax needs no rounding tolerance. "
    "Tie-break is (score DESC, lang ASC) on both sides.",
)
def z118324_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("toks")
    )
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)

    tr_tok = train.select("lang", F.explode("toks").alias("tok"))
    cnt = tr_tok.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    # tot/voc/ntr are EXACT integer re-aggregations of the model tables,
    # not fresh corpus passes (r15, guide §2.4): per-lang token totals =
    # sum of the (lang, tok) counts, vocabulary = distinct tok over the
    # count table, training-doc total = sum of the per-lang doc counts
    # (a NULL lang still forms its own group, so the sum is the full
    # count). Values are bit-identical. Measured effect (final adaptive
    # plan, plans/r15): tot's scan+explode+partial-agg pass is gone —
    # the model side's cnt exchange is additionally reused
    # (ReusedExchange in the final plan) — so token-level corpus passes
    # drop 3 -> 2; voc's derivation is collapsed back to a direct
    # distinct over the raw tokens by RemoveRedundantAggregates
    # (agg-over-agg with a grouping-subset key), which is exactly the
    # pre-r15 plan, so it is written in the derived form for intent
    # but costs the same pass either way.
    tot = cnt.groupBy("lang").agg(F.sum("c").alias("t"))
    voc = cnt.agg(F.count_distinct("tok").alias("v"))
    pri = train.groupBy("lang").agg(F.count(F.lit(1)).alias("nd"))
    ntr = pri.agg(F.sum("nd").alias("n"))

    # Model table: (lang, t, nd) joined once; voc/ntr are one-row
    # broadcast scalars. The (lang, tok) count model scales with the
    # training vocabulary, so its join is left to AQE (no hint).
    lang_dim = (
        tot.join(pri, "lang")
        .crossJoin(F.broadcast(voc))
        .crossJoin(F.broadcast(ntr))
    )

    tt = test.select(
        "doc_id",
        F.col("lang").alias("lang_true"),
        F.posexplode("toks").alias("pos", "tok"),
    )
    scored = (
        tt.crossJoin(F.broadcast(lang_dim))
        # No mandatory broadcast on the (lang, tok) model: its token
        # axis is the training vocabulary (Heaps'-law growth), so a
        # forced build side OOMs at the 100 TB mandate — AQE broadcasts
        # it while it fits (fixture scale); lang_dim stays hinted (a
        # #langs-row table, bounded).
        .join(cnt, ["lang", "tok"], "left")
        .select(
            "doc_id",
            "lang_true",
            "lang",
            "pos",
            (
                (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1)).cast("double")
                / (F.col("t") + F.col("v")).cast("double")
            ).alias("prob"),
            "nd",
            "n",
        )
    )
    per_doc = scored.groupBy("doc_id", "lang_true", "lang", "nd", "n").agg(
        F.sort_array(F.collect_list(F.struct("pos", "prob"))).alias("pp")
    )
    score = F.aggregate(
        F.transform("pp", lambda s: s["prob"]),
        F.lit(1.0),
        lambda acc, x: acc * x,
    ) * (F.col("nd").cast("double") / F.col("n").cast("double"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("lang"))
    pred = (
        per_doc.select("doc_id", "lang_true", "lang", score.alias("score"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
    )
    return pred.groupBy(
        "lang_true", F.col("lang").alias("lang_pred")
    ).agg(F.count(F.lit(1)).alias("n_docs"))


# --------------------------------------------------------------------------
# Q25 — k-NN majority-vote classifier over the exact top-k kernel
# --------------------------------------------------------------------------
@register(
    "z138325_knn_classifier",
    oracle="""
    WITH probes AS (SELECT vec_id AS probe_id, label AS label_true,
                           embedding AS pe
                    FROM embeddings ORDER BY vec_id LIMIT 50),
    sims AS (SELECT probe_id, label_true, e.vec_id AS neighbor_id, e.label,
               row_number() OVER (PARTITION BY probe_id ORDER BY
                 list_dot_product(CAST(pe AS DOUBLE[]),
                                  CAST(e.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(pe AS DOUBLE[]),
                                          CAST(pe AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                            CAST(e.embedding AS DOUBLE[]))))
                 DESC, e.vec_id) AS rk
             FROM probes JOIN embeddings e ON e.vec_id <> probe_id),
    votes AS (SELECT probe_id, label_true, label,
                     CAST(COUNT(*) AS BIGINT) AS n_votes
              FROM sims WHERE rk <= 5 GROUP BY 1, 2, 3),
    best AS (SELECT probe_id, label_true, label AS label_pred, n_votes,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY n_votes DESC, label) AS vr
             FROM votes)
    SELECT probe_id, CAST(label_true AS INT) AS label_true,
           CAST(label_pred AS INT) AS label_pred, n_votes
    FROM best WHERE vr = 1
    """,
    doc="k-NN label classifier: majority vote over the exact top-5 "
    "cosine neighbors of each probe (z61's distributed kernel — "
    "broadcast probe matrix, one matmul per Arrow batch, partition-"
    "local top-k then a window), tie-broken (votes DESC, label ASC). "
    "The vote itself is pure integer relational algebra on the k*P "
    "neighbor rows — O(1) in corpus size. The label join is an equi-"
    "join on vec_id against the (id, label) projection; at 100 TB "
    "that side is column-pruned to 12 bytes/row.",
)
def z138325_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .q_north import z11661_topk_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    labels = emb.select("vec_id", F.col("label").cast("int").alias("label"))
    exact = z11661_topk_similarity(spark, sf_dir).select(
        "probe_id", "neighbor_id"
    )
    votes = (
        exact.join(
            labels.withColumnRenamed("vec_id", "neighbor_id"),
            "neighbor_id",
        )
        .groupBy("probe_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("n_votes"), F.asc("label")
    )
    best = (
        votes.withColumn("vr", F.row_number().over(w))
        .filter(F.col("vr") == 1)
        .select("probe_id", F.col("label").alias("label_pred"), "n_votes")
    )
    truth = labels.select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("label_true"),
    )
    return best.join(truth, "probe_id").select(
        "probe_id", "label_true", "label_pred", "n_votes"
    )


# --------------------------------------------------------------------------
# Q26 — multi-source BFS hop counts over the co-purchase graph
# --------------------------------------------------------------------------
_BFS_MAX_HOPS = 3
_BFS_SEEDS = 10


@register(
    "z117526_bfs_hops",
    oracle=f"""
    WITH RECURSIVE
    edges AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey <> b.l_partkey),
    seeds AS (SELECT DISTINCT src AS node FROM edges
              ORDER BY node LIMIT {_BFS_SEEDS}),
    bfs AS (
      SELECT node, 0 AS hop FROM seeds
      UNION
      SELECT e.dst, b.hop + 1 FROM bfs b JOIN edges e ON e.src = b.node
      WHERE b.hop < {_BFS_MAX_HOPS}
    )
    SELECT node, CAST(MIN(hop) AS INT) AS hop FROM bfs GROUP BY node
    """,
    doc="Multi-source BFS: minimum hop count (capped at 3) from the 10 "
    "lowest-id seed nodes over the part co-purchase graph (q88's edge "
    "set). The iterative-DataFrame form: each round joins the current "
    "distance frontier to the src-keyed edge list and folds the "
    "result through a min-aggregation keyed node — two shuffles per "
    "round, localCheckpoint-ed so lineage stays flat (the q88 "
    "discipline), no driver-side actions inside the loop and no "
    "node-sized broadcasts. The DuckDB oracle is the textbook "
    "recursive CTE with UNION dedup. Hop counts are exact integers — "
    "no float tolerance anywhere.",
)
def z117526_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.checkpointing import materialize
    from .q_analytics import _copurchase_edges

    # Edge table hash-partitioned by the join key once before the loop.
    # NOTE (r15, corrected claim): under AQE the checkpoint's LogicalRDD
    # reports UnknownPartitioning, so each post-checkpoint JOB
    # re-shuffles the edge table once — exchange reuse dedupes that
    # identical subtree across the rounds inside one job, and AQE
    # promotes the frontier join to a frontier-side broadcast when it
    # fits (see functions/graph.py pagerank's measured adjudication of
    # a persist() pin — 4-10x slower locally via the stats-flip it
    # causes; same verdict applies here). Lineage cuts go through
    # functions/checkpointing.py.
    edges = materialize(
        _copurchase_edges(spark, sf_dir).repartition("src"), eager=False
    )
    seeds = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(_BFS_SEEDS)
    )
    dist = materialize(seeds.withColumn("hop", F.lit(0)), eager=False)
    frontier = dist
    for h in range(1, _BFS_MAX_HOPS + 1):
        # Frontier form: only NEWLY discovered nodes join the edge list,
        # so per-round join input shrinks as the wave saturates.
        reached = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        frontier = materialize(
            reached.join(dist, "node", "left_anti").withColumn(
                "hop", F.lit(h)
            ),
            eager=False,
        )
        dist = materialize(dist.unionByName(frontier), eager=False)
    return dist.select("node", F.col("hop").cast("int").alias("hop"))


# --------------------------------------------------------------------------
# Q27 — PSI drift audit between two time slices of the event stream
# --------------------------------------------------------------------------
_PSI_SPLIT = "2024-01-16 00:00:00"
_PSI_BIN_W = 50.0
_PSI_NBINS = 10


@register(
    "z138327_psi_drift",
    oracle=f"""
    WITH b AS (SELECT CASE WHEN CAST(ts AS TIMESTAMP)
                              < TIMESTAMP '{_PSI_SPLIT}'
                           THEN 'ref' ELSE 'cur' END AS side,
                      LEAST(CAST(FLOOR(value / {_PSI_BIN_W}) AS INT),
                            {_PSI_NBINS - 1}) AS bin
               FROM events),
    r AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_ref FROM b
          WHERE side = 'ref' GROUP BY bin),
    c AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_cur FROM b
          WHERE side = 'cur' GROUP BY bin),
    tr AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS t_ref FROM r),
    tc AS (SELECT CAST(SUM(n_cur) AS BIGINT) AS t_cur FROM c)
    SELECT r.bin, n_ref, n_cur,
           round((CAST(n_cur AS DOUBLE) / CAST(t_cur AS DOUBLE)
                  - CAST(n_ref AS DOUBLE) / CAST(t_ref AS DOUBLE))
                 * ln(CAST(n_cur * t_ref AS DOUBLE)
                      / CAST(n_ref * t_cur AS DOUBLE)), 6) AS psi_term
    FROM r JOIN c USING (bin), tr, tc
    """,
    doc="Population-stability-index drift audit on the event value "
    "distribution: fixed-width bins (deterministic floor, no "
    "data-dependent quantile edges), first half of the month as "
    "reference vs second half as current, per-bin PSI contribution "
    "(p_cur - p_ref) * ln(p_cur / p_ref) — the standard feature-drift "
    "monitor an ML data pipeline runs per ingestion batch. Counts are "
    "exact; each proportion is one IEEE division of exact integers; "
    "the ln ratio is computed from ONE division of exact integer "
    "products, and the only libm call feeds a round(.., 6) column "
    "(registry discipline for cross-engine libm ulps). Two partial-agg "
    "scans + a 10-row join: at 100 TB this is two map-side-combined "
    "passes and a broadcast of the totals. Bins empty on either side "
    "are excluded (inner join) — PSI is undefined there; the count "
    "columns expose them for the caller.",
)
def z138327_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.when(
            F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp"), "ref"
        )
        .otherwise("cur")
        .alias("side"),
        F.least(
            F.floor(F.col("value") / _PSI_BIN_W).cast("int"),
            F.lit(_PSI_NBINS - 1),
        ).alias("bin"),
    )
    r = (
        ev.filter(F.col("side") == "ref")
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_ref"))
    )
    c = (
        ev.filter(F.col("side") == "cur")
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_cur"))
    )
    tr = r.agg(F.sum("n_ref").alias("t_ref"))
    tc = c.agg(F.sum("n_cur").alias("t_cur"))
    j = (
        r.join(c, "bin")
        .crossJoin(F.broadcast(tr))
        .crossJoin(F.broadcast(tc))
    )
    p_cur = F.col("n_cur").cast("double") / F.col("t_cur").cast("double")
    p_ref = F.col("n_ref").cast("double") / F.col("t_ref").cast("double")
    ratio = (F.col("n_cur") * F.col("t_ref")).cast("double") / (
        F.col("n_ref") * F.col("t_cur")
    ).cast("double")
    return j.select(
        "bin",
        "n_ref",
        "n_cur",
        F.round((p_cur - p_ref) * F.log(ratio), 6).alias("psi_term"),
    )


# --------------------------------------------------------------------------
# Q28 — zone-map skipping audit (min/max pruning soundness per partition)
# --------------------------------------------------------------------------
_ZONE_THRESH = 400_000.0
_ZONE_DATE = "1999-01-01 00:00:00"


@register(
    "z138328_zonemap_skipping",
    oracle=f"""
    SELECT CAST(date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS DATE)
             AS part_month,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           MAX(o_totalprice) <= {_ZONE_THRESH} AS price_can_skip,
           CAST(COUNT(*) FILTER (WHERE o_totalprice > {_ZONE_THRESH})
                AS BIGINT) AS n_price_match,
           CAST(MAX(o_orderdate) AS TIMESTAMP)
             < TIMESTAMP '{_ZONE_DATE}' AS date_can_skip,
           CAST(COUNT(*) FILTER (WHERE CAST(o_orderdate AS TIMESTAMP)
                                       >= TIMESTAMP '{_ZONE_DATE}')
                AS BIGINT) AS n_date_match
    FROM orders GROUP BY 1
    """,
    doc="Zone-map (min/max statistics) skipping audit: per month "
    "partition of orders, the column min/max a parquet footer or "
    "iceberg manifest would carry, the skip decision for two "
    "predicates (skip iff max/min falls outside the range), and the "
    "ACTUAL match counts proving each decision sound (can_skip => "
    "n_match = 0 — asserted in tests). The two columns are the "
    "lesson: o_orderdate is the partitioning dimension, so its zones "
    "are tight and roughly half the partitions skip a date predicate; "
    "o_totalprice is uncorrelated with the layout, its zones all span "
    "the full range, and NO partition can skip a price predicate — "
    "the audit that tells you a 100 TB layout needs re-clustering "
    "(z-order/sort) before a predicate class gets pruning. One "
    "partial-agg scan; min/max/count are order-free and exact.",
)
def z138328_zonemap_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_trunc("month", F.col("o_orderdate"))
            .cast("date")
            .alias("part_month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            (F.max("o_totalprice") <= F.lit(_ZONE_THRESH)).alias(
                "price_can_skip"
            ),
            F.sum(
                F.when(F.col("o_totalprice") > _ZONE_THRESH, 1).otherwise(0)
            ).alias("n_price_match"),
            (
                F.max("o_orderdate") < F.lit(_ZONE_DATE).cast("timestamp")
            ).alias("date_can_skip"),
            F.sum(
                F.when(
                    F.col("o_orderdate")
                    >= F.lit(_ZONE_DATE).cast("timestamp"),
                    1,
                ).otherwise(0)
            ).alias("n_date_match"),
        )
    )
