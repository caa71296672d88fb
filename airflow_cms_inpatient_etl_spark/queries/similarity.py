"""Similarity-search queries over ``embeddings`` (64-d float vectors).

Cosine scores are bit-deterministic (ordered left-fold dot products — see
``operators.similarity``), so the oracles compare exact values, and top-k sets
are stable under ties via the candidate-id tie-breaker.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_cms_inpatient_etl_spark.operators.similarity import (
    ann_lsh_topk,
    brute_force_topk,
    embedding_neardup_pairs,
)
from airflow_cms_inpatient_etl_spark.operators.text import hash60
from airflow_cms_inpatient_etl_spark.queries.base import register
from airflow_cms_inpatient_etl_spark.sources.registry import load_table

# DuckDB expression mirroring operators.similarity.dot/norm_sq fold order:
# products in index order, double accumulator, left fold.  list_reduce seeds
# with the first element, Spark's aggregate seeds with 0.0 — identical results
# since 0.0 + x == x.
def _dot(a: str, b: str) -> str:
    return (
        f"LIST_REDUCE(LIST_TRANSFORM(RANGE(1, 65), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


def _cosine(a: str, b: str) -> str:
    return f"{_dot(a, b)} / (SQRT({_dot(a, a)}) * SQRT({_dot(b, b)}))"


_BUCKET = (
    "(CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END || "
    "CASE WHEN embedding[17] >= 0 THEN '1' ELSE '0' END || "
    "CASE WHEN embedding[33] >= 0 THEN '1' ELSE '0' END || "
    "CASE WHEN embedding[49] >= 0 THEN '1' ELSE '0' END)"
)


@register(
    "sim_cosine_topk_brute",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings),
    scored AS (
        SELECT qid, cid, {_cosine("qvec", "cvec")} AS cosine
        FROM c, q WHERE cid <> qid
    ),
    ranked AS (
        SELECT qid, cid, cosine,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rn
        FROM scored
    )
    SELECT qid, cid, cosine, rn FROM ranked WHERE rn <= 5
    """,
)
def sim_cosine_topk_brute(spark, sf_dir):
    """Brute-force cosine top-5 for 8 query vectors: broadcast queries against
    one candidate scan, per-query heap via row_number — the exactness baseline."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(e.vec_id < 8)
    return brute_force_topk(e, queries, k=5)


@register(
    "sim_ann_lsh_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding, {_BUCKET} AS bucket FROM embeddings),
    q AS (SELECT vec_id AS qid, embedding AS qvec, bucket FROM e WHERE vec_id < 8),
    c AS (SELECT vec_id AS cid, embedding AS cvec, bucket FROM e),
    scored AS (
        SELECT qid, cid, {_cosine("qvec", "cvec")} AS cosine
        FROM c JOIN q USING (bucket) WHERE cid <> qid
    ),
    ranked AS (
        SELECT qid, cid, cosine,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rn
        FROM scored
    )
    SELECT qid, cid, cosine, rn FROM ranked WHERE rn <= 3
    """,
)
def sim_ann_lsh_topk(spark, sf_dir):
    """ANN variant: sign-bit LSH buckets restrict scoring to the query's bucket
    — the scale path (bucketed equi-join instead of cross join)."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(e.vec_id < 8)
    return ann_lsh_topk(e, queries, k=3)


@register(
    "sim_ann_ivf_topk",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS cvec
        FROM embeddings WHERE vec_id BETWEEN 100 AND 107
    ),
    all_assign AS (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_cosine("e.embedding", "c.cvec")} DESC,
                                           c.centroid_id) AS crn
        FROM embeddings e, cent c
    ),
    assigned AS (SELECT vec_id, embedding, centroid_id FROM all_assign WHERE crn = 1),
    q AS (SELECT vec_id AS qid, embedding AS qvec, centroid_id FROM assigned WHERE vec_id < 8),
    cand AS (SELECT vec_id AS cid, embedding AS cvec, centroid_id FROM assigned),
    scored AS (
        SELECT qid, cid, {_cosine("qvec", "cvec")} AS cosine
        FROM cand JOIN q USING (centroid_id) WHERE cid <> qid
    ),
    ranked AS (
        SELECT qid, cid, cosine,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rn
        FROM scored
    )
    SELECT qid, cid, cosine, rn FROM ranked WHERE rn <= 3
    """,
)
def sim_ann_ivf_topk(spark, sf_dir):
    """IVF ANN: coarse-quantize all vectors against 8 fixed centroids (vectors
    100-107), then score each query only against its own inverted list — the
    quantize → list-join → rank shape of production embedding search."""
    from airflow_cms_inpatient_etl_spark.operators.similarity import ivf_topk

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(e.vec_id < 8)
    centroids = e.filter(e.vec_id.between(100, 107))
    return ivf_topk(e, queries, centroids, k=3)


@register(
    "embedding_kmeans_iteration",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS cvec
        FROM embeddings WHERE vec_id BETWEEN 100 AND 107
    ),
    all_assign AS (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_cosine("e.embedding", "c.cvec")} DESC,
                                           c.centroid_id) AS crn
        FROM embeddings e, cent c
    ),
    assigned AS (SELECT vec_id, embedding, centroid_id FROM all_assign WHERE crn = 1),
    ex AS (
        SELECT vec_id, centroid_id, d.i AS dim,
               CAST(embedding[d.i] AS DOUBLE) AS v
        FROM assigned, (SELECT UNNEST(RANGE(1, 65)) AS i) d
    )
    SELECT centroid_id, dim,
           COUNT(*) AS n_assigned,
           LIST_REDUCE(LIST(v ORDER BY vec_id), (x, y) -> x + y) / COUNT(*) AS mean_value
    FROM ex GROUP BY centroid_id, dim
    """,
)
def embedding_kmeans_iteration(spark, sf_dir):
    """One spherical k-means iteration, fully distributed: assign every vector
    to its max-cosine centroid (broadcast centroids — the IVF assignment), then
    recompute each centroid as the per-dimension mean of its members.  The
    iterative-ML pattern in pure DataFrame ops: a training loop is this query
    run to fixation with the output fed back as the next centroid set.

    Exactness: member values are summed as doubles via an ORDERED left fold
    (sorted by vec_id) — the same bit-deterministic pattern as the cosine
    dot products — so the per-dimension means hash-match the oracle with no
    epsilon tolerance even though this is 'ML'.  (Decimal-cast sums are NOT
    usable here: float32 binary expansions can land exactly on the decimal
    rounding grid, where Spark's HALF_UP and DuckDB's tie rule diverge —
    observed as a 1e-12 mean drift before the switch to ordered folds.)
    Shuffles: one for the assignment's per-vector rank, one for the
    (centroid, dim) mean — both on bounded keys (|centroids| × 64 rows out)."""
    from airflow_cms_inpatient_etl_spark.operators.similarity import ivf_assign

    e = load_table(spark, sf_dir, "embeddings")
    centroids = e.filter(e.vec_id.between(100, 107))
    assigned = ivf_assign(e, centroids)
    ex = assigned.select(
        "vec_id", "centroid_id", F.posexplode("embedding").alias("pos", "val")
    )
    pairs = F.array_sort(
        F.collect_list(F.struct(F.col("vec_id").alias("i"), F.col("val").cast("double").alias("v")))
    )
    ordered_sum = F.aggregate(
        F.transform(pairs, lambda p: p["v"]), F.lit(0.0), lambda acc, x: acc + x
    )
    return ex.groupBy("centroid_id", (F.col("pos") + 1).alias("dim")).agg(
        F.count(F.lit(1)).alias("n_assigned"),
        (ordered_sum / F.count(F.lit(1))).alias("mean_value"),
    )


@register(
    "sim_embedding_neardup",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding, {_BUCKET} AS bucket FROM embeddings),
    a AS (SELECT vec_id AS id1, embedding AS v1, bucket FROM e),
    b AS (SELECT vec_id AS id2, embedding AS v2, bucket FROM e),
    pairs AS (
        SELECT id1, id2, {_cosine("v1", "v2")} AS cosine
        FROM a JOIN b USING (bucket) WHERE id1 < id2
    )
    SELECT id1, id2, cosine FROM pairs WHERE cosine > 0.95
    """,
)
def sim_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (> 0.95), blocked by LSH bucket."""
    e = load_table(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(e, threshold=0.95)


_PQ_SUBDIST = (
    "LIST_REDUCE(LIST_TRANSFORM(RANGE(1, 9), "
    "i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
    "* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
)


@register(
    "sim_pq_adc_topk",
    oracle=f"""
    WITH sv AS (
        SELECT vec_id, s.sub, LIST_SLICE(embedding, s.sub * 8 + 1, s.sub * 8 + 8) AS svec
        FROM embeddings, (SELECT UNNEST(RANGE(0, 8)) AS sub) s
    ),
    cb AS (
        SELECT sub, CAST(vec_id - 200 AS INTEGER) AS code, svec AS cvec
        FROM sv WHERE vec_id BETWEEN 200 AND 215
    ),
    enc_scored AS (
        SELECT sv.vec_id, sv.sub, cb.code,
               {_PQ_SUBDIST.format(a="sv.svec", b="cb.cvec")} AS d
        FROM sv JOIN cb USING (sub)
    ),
    enc AS (
        SELECT vec_id, sub, code FROM (
            SELECT vec_id, sub, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS crn
            FROM enc_scored) WHERE crn = 1
    ),
    lut AS (
        SELECT sv.vec_id AS qid, sv.sub, cb.code,
               {_PQ_SUBDIST.format(a="sv.svec", b="cb.cvec")} AS d
        FROM sv JOIN cb USING (sub) WHERE sv.vec_id < 8
    ),
    hits AS (
        SELECT lut.qid, enc.vec_id AS cid, enc.sub, lut.d
        FROM enc JOIN lut ON enc.sub = lut.sub AND enc.code = lut.code
        WHERE enc.vec_id <> lut.qid
    ),
    scored AS (
        SELECT qid, cid, LIST_REDUCE(LIST(d ORDER BY sub), (x, y) -> x + y) AS approx_dist
        FROM hits GROUP BY qid, cid
    ),
    ranked AS (
        SELECT qid, cid, approx_dist,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY approx_dist, cid) AS rn
        FROM scored
    )
    SELECT qid, cid, approx_dist, rn FROM ranked WHERE rn <= 5
    """,
)
def sim_pq_adc_topk(spark, sf_dir):
    """Product-quantization ANN (third tier after LSH and IVF): every vector
    compressed to 8 four-bit sub-codes (32× smaller than float32), queries
    answered by asymmetric distance computation — one 16-entry LUT per
    (query, subspace), candidate distance = ordered-fold sum of LUT hits over
    its codes.  Codebooks are subvectors of fixed corpus seeds (vec 200-215)
    so the full pipeline is engine-deterministic and oracle-exact; production
    trains them with operators/ml.kmeans_fit and broadcasts them identically.
    The candidate side of the ADC join carries only (vec_id, sub, code) —
    at 100 TB the precomputed byte-code table IS the index, scanned without
    touching the float vectors.  Recall vs the brute-force truth is recorded
    in RECALL.md."""
    from airflow_cms_inpatient_etl_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebook,
    )

    e = load_table(spark, sf_dir, "embeddings")
    cb = pq_codebook(e, (200, 215), m=8)
    queries = e.filter(e.vec_id < 8)
    return pq_adc_topk(e, queries, cb, m=8, k=5)


# --------------------------------------------------------------------------- #
# sim_sq8_topk — scalar-quantized (int8) coarse scan + exact rerank            #
# --------------------------------------------------------------------------- #

_SQ8_LO = ", ".join(f"MIN(embedding[{i}])" for i in range(1, 65))
_SQ8_HI = ", ".join(f"MAX(embedding[{i}])" for i in range(1, 65))


@register(
    "sim_sq8_topk",
    oracle=f"""
    WITH stats AS MATERIALIZED (
        SELECT [{_SQ8_LO}] AS lo, [{_SQ8_HI}] AS hi FROM embeddings
    ),
    st AS MATERIALIZED (
        SELECT lo, hi,
               LIST_TRANSFORM(RANGE(1, 65),
                   i -> CAST(FLOOR((CAST(hi[i] AS DOUBLE) - CAST(lo[i] AS DOUBLE))
                                   / 255.0 * 1000000.0 + 0.5) AS BIGINT)) AS step
        FROM stats
    ),
    enc AS MATERIALIZED (
        SELECT vec_id,
               LIST_TRANSFORM(RANGE(1, 65),
                   i -> (CASE WHEN CAST(hi[i] AS DOUBLE) > CAST(lo[i] AS DOUBLE)
                         THEN CAST(FLOOR((CAST(embedding[i] AS DOUBLE) - CAST(lo[i] AS DOUBLE))
                                         / (CAST(hi[i] AS DOUBLE) - CAST(lo[i] AS DOUBLE))
                                         * 255.0 + 0.5) AS BIGINT)
                         ELSE CAST(128 AS BIGINT) END * 2 - 255) * step[i]) AS z
        FROM embeddings, st
    ),
    q AS (SELECT vec_id AS qid, z AS qz FROM enc WHERE vec_id < 8),
    coarse AS (
        SELECT qid, e.vec_id AS cid,
               LIST_REDUCE(LIST_TRANSFORM(RANGE(1, 65), i -> qz[i] * z[i]),
                           (x, y) -> x + y) AS int_score
        FROM enc e, q WHERE e.vec_id <> qid
    ),
    cand AS (
        SELECT qid, cid, int_score,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY int_score DESC, cid) AS crn
        FROM coarse
    ),
    top AS (SELECT qid, cid, int_score FROM cand WHERE crn <= 20),
    qv AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 8),
    cv AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings),
    rer AS (
        SELECT t.qid, t.cid, t.int_score, {_cosine("qvec", "cvec")} AS cosine
        FROM top t JOIN cv ON cv.cid = t.cid JOIN qv ON qv.qid = t.qid
    ),
    ranked AS (
        SELECT qid, cid, int_score, cosine,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rn
        FROM rer
    )
    SELECT qid, cid, int_score, cosine, rn FROM ranked WHERE rn <= 5
    """,
)
def sim_sq8_topk(spark, sf_dir):
    """SQ8 scalar-quantization ANN (fourth compression tier after LSH / IVF
    / PQ): per-dimension min-max train, 8-bit codes, coarse top-20 by the
    BIGINT dequantized-centered dot product (z = (2c-255)·step micro-units
    — raw code dots rank near-randomly, see operator docstring), exact
    float-cosine rerank to top-5.  No float enters candidate selection, so
    the rerank set and its exact cosines are bit-deterministic.  See
    ``operators.similarity.sq8_topk`` for the 100 TB contract (stored
    byte-code column, broadcast step vector, broadcast winner fetch);
    measured recall@20 = 1.0 vs brute force on the fixture (floor 0.8
    asserted in tests)."""
    from airflow_cms_inpatient_etl_spark.operators.similarity import sq8_topk

    e = load_table(spark, sf_dir, "embeddings")
    return sq8_topk(e, e.filter(e.vec_id < 8), k=5, coarse_m=20)


@register(
    "sim_hard_negatives",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qvec, label AS qlabel
               FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id AS cid, embedding AS cvec, label AS clabel FROM embeddings),
    scored AS (
        SELECT qid, cid, clabel AS neg_label, {_cosine("qvec", "cvec")} AS cosine
        FROM c, q WHERE cid <> qid AND clabel <> qlabel
    ),
    ranked AS (
        SELECT qid, cid, neg_label, cosine,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rn
        FROM scored
    )
    SELECT qid, cid, neg_label, cosine, rn FROM ranked WHERE rn <= 5
    """,
)
def sim_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive embedding training: for each
    anchor, the top-5 most-similar candidates with a DIFFERENT label — the
    negatives that carry the most gradient signal.  Same broadcast-scan shape
    as the brute top-k (the label inequality is applied before scoring, so no
    wasted dot products); at corpus scale the anchor set is mined per IVF
    cell (`sim_ann_ivf_topk`'s blocking) instead of against the full scan."""
    e = load_table(spark, sf_dir, "embeddings")
    from pyspark.sql import Window as W
    from airflow_cms_inpatient_etl_spark.operators.similarity import dot, norm

    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("qlabel"),
        norm(F.col("embedding")).alias("qn"),
    )
    c = e.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cvec"),
        F.col("label").alias("clabel"),
        norm(F.col("embedding")).alias("cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter((F.col("cid") != F.col("qid")) & (F.col("clabel") != F.col("qlabel")))
        .withColumn(
            "cosine", dot(F.col("qvec"), F.col("cvec")) / (F.col("qn") * F.col("cn"))
        )
    )
    w = W.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "cid", F.col("clabel").alias("neg_label"), "cosine", "rn")
    )


# --------------------------------------------------------------------------- #
# embedding_label_confusion — label-centroid cosine confusion matrix           #
# --------------------------------------------------------------------------- #


def _confusion_oracle() -> str:
    dotc = (
        "LIST_REDUCE(LIST_TRANSFORM(RANGE(1, 65), "
        "i -> ({a}[i]) * ({b}[i])), (x, y) -> x + y)"
    )
    dab = dotc.format(a="a.c", b="b.c")
    daa = dotc.format(a="a.c", b="a.c")
    dbb = dotc.format(a="b.c", b="b.c")
    return f"""
    WITH ex AS (
        SELECT label, vec_id, d.i AS dim, CAST(embedding[d.i] AS DOUBLE) AS v
        FROM embeddings, (SELECT UNNEST(RANGE(1, 65)) AS i) d
    ),
    cent AS (
        SELECT label, dim,
               LIST_REDUCE(LIST(v ORDER BY vec_id), (x, y) -> x + y) / COUNT(*) AS m
        FROM ex GROUP BY label, dim
    ),
    vecs AS (
        SELECT label, LIST(m ORDER BY dim) AS c FROM cent GROUP BY label
    ),
    cnt AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM embeddings GROUP BY label)
    SELECT a.label AS label_a, b.label AS label_b,
           ca.n AS n_a, cb.n AS n_b,
           ROUND({dab} / (SQRT({daa}) * SQRT({dbb})), 6) AS centroid_cosine
    FROM vecs a JOIN vecs b ON a.label <= b.label
    JOIN cnt ca ON ca.label = a.label
    JOIN cnt cb ON cb.label = b.label
    """


@register("embedding_label_confusion", oracle=_confusion_oracle())
def embedding_label_confusion(spark, sf_dir):
    """Embedding-space label diagnostics: the cosine between every pair of
    label centroids — the first thing to inspect before trusting a labeled
    embedding corpus (near-parallel centroids = confusable classes = label
    noise or insufficient separation; the SemDeDup/DSIR curation decisions
    downstream assume separable classes).

    Exactness (the `embedding_kmeans_iteration` discipline): float32 values
    promote to double and per-dimension means use an ORDERED fold (sorted by
    vec_id), so the centroids are bit-deterministic under any partitioning;
    the pairwise cosine then folds dimensions in order.  Plan: one explode →
    one (label, dim) aggregate (|labels|x64 rows out), centroid arrays
    reassembled per label, and the pair matrix is a broadcast self-join over
    |labels| rows — nothing downstream of the first aggregate is
    corpus-sized, so 100x more vectors changes only the first exchange."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select("label", "vec_id", F.posexplode("embedding").alias("pos", "val"))
    pairs = F.array_sort(
        F.collect_list(
            F.struct(F.col("vec_id").alias("i"), F.col("val").cast("double").alias("v"))
        )
    )
    ordered_sum = F.aggregate(
        pairs, F.lit(0.0), lambda acc, x: acc + x.getField("v")
    )
    cent = (
        ex.groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg((ordered_sum / F.count(F.lit(1))).alias("m"))
    )
    vecs = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("dim").alias("d"), F.col("m").alias("m")))
            ),
            lambda x: x.getField("m"),
        ).alias("c")
    )
    cnt = e.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    a = vecs.alias("a").join(F.broadcast(cnt.alias("ca")), F.col("a.label") == F.col("ca.label"))
    b = vecs.alias("b").join(F.broadcast(cnt.alias("cb")), F.col("b.label") == F.col("cb.label"))
    from airflow_cms_inpatient_etl_spark.operators.similarity import dot

    joined = a.join(F.broadcast(b), F.col("a.label") <= F.col("b.label"))
    ca, cb = F.col("a.c"), F.col("b.c")
    cos = dot(ca, cb) / (F.sqrt(dot(ca, ca)) * F.sqrt(dot(cb, cb)))
    return joined.select(
        F.col("a.label").alias("label_a"),
        F.col("b.label").alias("label_b"),
        F.col("ca.n").alias("n_a"),
        F.col("cb.n").alias("n_b"),
        F.round(cos, 6).alias("centroid_cosine"),
    )


# --------------------------------------------------------------------------- #
# decontaminate_embedding_cosine — eval-set leakage detection                  #
# --------------------------------------------------------------------------- #

_DECON_TAU = 0.95     # flag train vectors this close to ANY eval vector
_DECON_EVAL_PCT = 10  # hash-split eval share (stable, engine-portable)
_DECON_PLANT = 20     # every 20th train vector is planted eval leakage


@register(
    "decontaminate_embedding_cosine",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, embedding,
               CAST('0x' || SUBSTR(MD5('dsplit:' || CAST(vec_id AS VARCHAR)), 1, 15)
                   AS BIGINT) % 100 AS b
        FROM embeddings
    ),
    ev AS (
        SELECT vec_id AS eval_id, embedding AS w,
               ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS rnk
        FROM e WHERE b < {_DECON_EVAL_PCT}
    ),
    n AS (SELECT COUNT(*) AS n_eval FROM ev),
    tr AS (
        SELECT t.vec_id,
               CASE WHEN t.vec_id % {_DECON_PLANT} = 0 THEN p.w ELSE t.embedding END AS v,
               t.vec_id % {_DECON_PLANT} = 0 AS planted
        FROM (SELECT vec_id, embedding FROM e WHERE b >= {_DECON_EVAL_PCT}) t
        CROSS JOIN n
        LEFT JOIN ev p
          ON t.vec_id % {_DECON_PLANT} = 0 AND p.rnk = (t.vec_id // {_DECON_PLANT}) % GREATEST(n.n_eval, 1)
    ),
    scored AS (
        SELECT tr.vec_id, tr.planted, ev.eval_id, {_cosine("tr.v", "ev.w")} AS cosine
        FROM tr, ev
    ),
    best AS (
        SELECT vec_id, planted, eval_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, eval_id) AS rn
        FROM scored
    )
    SELECT vec_id, planted, eval_id AS nearest_eval, cosine AS max_cosine,
           cosine >= {_DECON_TAU} AS is_contaminated
    FROM best WHERE rn = 1
    """,
)
def decontaminate_embedding_cosine(spark, sf_dir):
    """Eval-set decontamination over embeddings: split vectors 90/10 by the
    portable salted hash of vec_id (stable across runs/engines — adding
    vectors never reassigns existing ones), then flag every TRAIN vector
    whose max exact cosine against the EVAL set reaches {_DECON_TAU} — the
    embedding-space sibling of ``decontaminate_ngram_overlap``, catching
    paraphrased leakage n-gram overlap misses.

    The GATE itself is the pure operator
    ``operators.similarity.embedding_decontaminate`` (score → argmax →
    flag; no synthetic mutation inside it — safe to point at real data).
    This registered query is the FIXTURE-BOUND bench harness around it:
    the fixture's vectors are mutually far (max natural cross-split cosine
    ≈ 0.49), so the wrapper PLANTS deterministic leakage — every
    {_DECON_PLANT}th train vector is replaced by a rank-indexed eval
    vector — and the flag set must recover exactly the planted rows (the
    ``planted`` column makes the separation auditable per-row, here and in
    the oracle).

    Scale shape (see the operator docstring): eval side broadcasts (here
    both to the plant join and the scoring join), train corpus is one
    map-side pass, per-vector argmax folds map-side — no train-sized
    exchange.  Cost |train| x |eval| x d — the exactness baseline a
    production pass prefilters (`sim_ann_lsh_topk` is the bucketed path)."""
    from pyspark.sql import Window as W

    from airflow_cms_inpatient_etl_spark.operators.similarity import (
        embedding_decontaminate,
    )

    e = load_table(spark, sf_dir, "embeddings")
    h = hash60(F.col("vec_id").cast("string"), "dsplit:")
    e = e.select("vec_id", "embedding", (h % 100).alias("b"))
    ev = (
        e.filter(F.col("b") < _DECON_EVAL_PCT)
        .select(F.col("vec_id").alias("eval_id"), F.col("embedding").alias("w"))
        .withColumn("rnk", F.row_number().over(W.orderBy("eval_id")) - 1)
    )
    n = ev.agg(F.count(F.lit(1)).alias("n_eval"))
    tr0 = e.filter(F.col("b") >= _DECON_EVAL_PCT).select("vec_id", "embedding")
    # fixture-only leakage planting — NOT part of the gate (kept out of the
    # operator so promoting the gate to real data cannot replace vectors)
    plant = (
        tr0.filter(F.col("vec_id") % _DECON_PLANT == 0)
        .join(F.broadcast(n))
        # GREATEST(n_eval, 1): with an empty eval split, Spark non-ANSI
        # "% 0" yields NULL (silently dropping every plant) while DuckDB
        # errors — the guard makes both engines return the same empty
        # result through the inner scoring join instead
        .withColumn("rnk", F.expr(f"(vec_id div {_DECON_PLANT}) % greatest(n_eval, 1)"))
        .join(F.broadcast(ev), "rnk")
        .select("vec_id", F.col("w").alias("v"), F.lit(True).alias("planted"))
    )
    clean = tr0.filter(F.col("vec_id") % _DECON_PLANT != 0).select(
        "vec_id", F.col("embedding").alias("v"), F.lit(False).alias("planted")
    )
    tr = plant.unionByName(clean)
    return embedding_decontaminate(
        tr,
        ev.select("eval_id", "w"),
        _DECON_TAU,
        carry_cols=("planted",),
    )


if decontaminate_embedding_cosine.__doc__:  # None under python -OO
    decontaminate_embedding_cosine.__doc__ = (
        decontaminate_embedding_cosine.__doc__
        .replace("{_DECON_TAU}", str(_DECON_TAU))
        .replace("{_DECON_PLANT}", str(_DECON_PLANT))
    )


def _dot_n(a: str, b: str, n: int) -> str:
    """Left-fold dot over the first n coordinates (mirrors F.slice + fold)."""
    return (
        f"LIST_REDUCE(LIST_TRANSFORM(RANGE(1, {n + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


def _cosine_n(a: str, b: str, n: int) -> str:
    """Zero-prefix-guarded: a valid full vector may have an all-zero first-n
    prefix; both engines define that cosine as 0.0 (the engine side guards
    with when(), since the ANSI session raises even on double /0)."""
    norms = f"(SQRT({_dot_n(a, a, n)}) * SQRT({_dot_n(b, b, n)}))"
    return (
        f"CASE WHEN {norms} = 0 THEN 0.0 "
        f"ELSE {_dot_n(a, b, n)} / {norms} END"
    )


_MRL_PREFIX = 16  # phase-1 dims (64-d vectors; MRL prefixes carry the signal)
_MRL_K = 3
_MRL_OVERFETCH = 4


@register(
    "sim_matryoshka_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings),
    pre AS (
        SELECT qid, cid, qvec, cvec,
               {_cosine_n("qvec", "cvec", _MRL_PREFIX)} AS prefix_cosine
        FROM c, q WHERE cid <> qid
    ),
    survivors AS (
        SELECT qid, cid, qvec, cvec,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY prefix_cosine DESC, cid) AS prn
        FROM pre
    ),
    reranked AS (
        SELECT qid, cid, {_cosine("qvec", "cvec")} AS cosine
        FROM survivors WHERE prn <= {_MRL_K * _MRL_OVERFETCH}
    ),
    ranked AS (
        SELECT qid, cid, cosine,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rn
        FROM reranked
    )
    SELECT qid, cid, cosine, rn FROM ranked WHERE rn <= {_MRL_K}
    """,
)
def sim_matryoshka_topk(spark, sf_dir):
    """Matryoshka two-stage ANN: prefix-dim (16/64) cosine prunes each query's
    candidates to k*overfetch, full-dim cosine reranks only the survivors —
    the cheap-filter/exact-rerank shape MRL embeddings exist for.  Both
    stages are exact ordered folds, so the oracle reproduces them verbatim
    (same prune, same rerank, same tie-breaks)."""
    from airflow_cms_inpatient_etl_spark.operators.similarity import matryoshka_topk

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(e.vec_id < 8)
    return matryoshka_topk(
        e, queries, k=_MRL_K, prefix_dim=_MRL_PREFIX, overfetch=_MRL_OVERFETCH
    )


def _l2sq(a: str, b: str) -> str:
    """DuckDB mirror of operators.similarity.l2_sq (same fold order)."""
    return (
        f"LIST_REDUCE(LIST_TRANSFORM(RANGE(1, 65), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
        f"* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
    )


_KCENTER_K = 6


def _kcenter_oracle() -> str:
    parts = [
        f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    c0 AS (SELECT vec_id, embedding FROM e WHERE vec_id = (SELECT MIN(vec_id) FROM e)),
    d1 AS (
        SELECT e.vec_id, e.embedding, {_l2sq("e.embedding", "c.embedding")} AS dmin
        FROM e CROSS JOIN c0 c
    )"""
    ]
    for i in range(1, _KCENTER_K):
        parts.append(
            f""",
    c{i} AS (SELECT vec_id, embedding, dmin FROM d{i} ORDER BY dmin DESC, vec_id LIMIT 1)"""
        )
        if i < _KCENTER_K - 1:
            parts.append(
                f""",
    d{i + 1} AS (
        SELECT d.vec_id, d.embedding,
               LEAST(d.dmin, {_l2sq("d.embedding", "c.embedding")}) AS dmin
        FROM d{i} d CROSS JOIN c{i} c
    )"""
            )
    selects = ["SELECT 0 AS sel_rank, vec_id, CAST(0.0 AS DOUBLE) AS radius FROM c0"]
    for i in range(1, _KCENTER_K):
        selects.append(f"SELECT {i} AS sel_rank, vec_id, dmin AS radius FROM c{i}")
    parts.append("\n    " + "\n    UNION ALL ".join(selects))
    return "".join(parts)


@register("sample_kcenter_diverse", oracle=_kcenter_oracle())
def sample_kcenter_diverse(spark, sf_dir):
    """Gonzalez greedy k-center over the embedding corpus: 6 maximally-spread
    vectors (the diversity-sampling / coreset-seed primitive), each pick the
    exact argmax of distance-to-selected-set with id tie-breaks — an
    inherently sequential algorithm made bit-deterministic, hash-matched
    against an unrolled CTE oracle that replays every greedy decision.
    Output: (sel_rank, vec_id, radius); the final radius bounds the covering
    radius within 2x of optimal."""
    from airflow_cms_inpatient_etl_spark.operators.similarity import kcenter_select

    e = load_table(spark, sf_dir, "embeddings")
    picks = kcenter_select(e, k=_KCENTER_K)
    return spark.createDataFrame(
        [(int(r), int(v), float(d)) for r, v, d in picks],
        "sel_rank int, vec_id bigint, radius double",
    )


_IVFPQ_SEEDS = (16, 31)


@register(
    "sim_ivfpq_residual_topk",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS cvec
        FROM embeddings WHERE vec_id BETWEEN 100 AND 107
    ),
    assign_scored AS (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_cosine("e.embedding", "c.cvec")} DESC,
                                           c.centroid_id) AS crn
        FROM embeddings e, cent c
    ),
    assigned AS (SELECT vec_id, embedding, centroid_id FROM assign_scored WHERE crn = 1),
    res AS (
        SELECT a.vec_id, a.centroid_id,
               LIST_TRANSFORM(RANGE(1, 65),
                   i -> CAST(a.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)) AS r
        FROM assigned a JOIN cent c USING (centroid_id)
    ),
    sv AS (
        SELECT vec_id, centroid_id, s.sub,
               LIST_SLICE(r, s.sub * 8 + 1, s.sub * 8 + 8) AS svec
        FROM res, (SELECT UNNEST(RANGE(0, 8)) AS sub) s
    ),
    cb AS (
        SELECT sub, CAST(vec_id - {_IVFPQ_SEEDS[0]} AS INTEGER) AS code, svec AS cvec
        FROM sv WHERE vec_id BETWEEN {_IVFPQ_SEEDS[0]} AND {_IVFPQ_SEEDS[1]}
    ),
    enc_scored AS (
        SELECT sv.vec_id, sv.centroid_id, sv.sub, cb.code,
               {_PQ_SUBDIST.format(a="sv.svec", b="cb.cvec")} AS d
        FROM sv JOIN cb USING (sub)
    ),
    enc AS (
        SELECT vec_id, centroid_id, sub, code FROM (
            SELECT vec_id, centroid_id, sub, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS crn
            FROM enc_scored) WHERE crn = 1
    ),
    lut AS (
        SELECT sv.vec_id AS qid, sv.centroid_id, sv.sub, cb.code,
               {_PQ_SUBDIST.format(a="sv.svec", b="cb.cvec")} AS d
        FROM sv JOIN cb USING (sub) WHERE sv.vec_id < 8
    ),
    hits AS (
        SELECT lut.qid, enc.vec_id AS cid, enc.sub, lut.d
        FROM enc JOIN lut ON enc.centroid_id = lut.centroid_id
                         AND enc.sub = lut.sub AND enc.code = lut.code
        WHERE enc.vec_id <> lut.qid
    ),
    scored AS (
        SELECT qid, cid, LIST_REDUCE(LIST(d ORDER BY sub), (x, y) -> x + y) AS approx_dist
        FROM hits GROUP BY qid, cid
    ),
    ranked AS (
        SELECT qid, cid, approx_dist,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY approx_dist, cid) AS rn
        FROM scored
    )
    SELECT qid, cid, approx_dist, rn FROM ranked WHERE rn <= 3
    """,
)
def sim_ivfpq_residual_topk(spark, sf_dir):
    """IVF-PQ composite index (the FAISS `IVF8,PQ8` shape): coarse cosine
    assignment to 8 fixed centroids, PQ over the RESIDUAL vector − centroid
    (the common-centroid cancellation makes within-list residual distances
    equal original distances in exact arithmetic), ADC restricted to the query's own inverted
    list.  The full two-level quantization chain — assignment argmax,
    double-promoted residual subtract, per-subspace encode argmin, LUT fold —
    is engine-deterministic and the oracle replays every step.  See
    operators.similarity.ivfpq_adc_topk for the byte-code index scale
    contract."""
    from airflow_cms_inpatient_etl_spark.operators.similarity import ivfpq_adc_topk

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(e.vec_id < 8)
    centroids = e.filter(e.vec_id.between(100, 107))
    return ivfpq_adc_topk(e, queries, centroids, _IVFPQ_SEEDS, m=8, k=3)


# --------------------------------------------------------------------------- #
# ml_ranking_metrics — retrieval evaluation (MRR / precision / recall @ 10)    #
# --------------------------------------------------------------------------- #
_RANK_K = 10
_RANK_NQ = 20  # query vectors: vec_id < 20


@register(
    "ml_ranking_metrics",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qvec, label AS qlabel
        FROM embeddings WHERE vec_id < {_RANK_NQ}
    ),
    c AS (SELECT vec_id AS cid, embedding AS cvec, label AS clabel FROM embeddings),
    scored AS (
        SELECT qid, qlabel, cid, clabel, {_cosine("qvec", "cvec")} AS cosine
        FROM c, q WHERE cid <> qid
    ),
    ranked AS (
        SELECT qid, qlabel, clabel,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rn
        FROM scored
    ),
    rel_total AS (
        SELECT q.qid, CAST(COUNT(*) AS BIGINT) AS n_rel_total
        FROM q JOIN c ON c.clabel = q.qlabel AND c.cid <> q.qid
        GROUP BY q.qid
    ),
    top AS (
        SELECT qid,
               CAST(COUNT(*) FILTER (WHERE clabel = qlabel) AS BIGINT) AS hits,
               MIN(CASE WHEN clabel = qlabel THEN rn END) AS first_rel_rank
        FROM ranked WHERE rn <= {_RANK_K}
        GROUP BY qid
    )
    SELECT t.qid AS qid,
           CAST(q.qlabel AS BIGINT) AS label,
           r.n_rel_total,
           t.hits AS hits_at_k,
           CAST(t.first_rel_rank AS BIGINT) AS first_rel_rank,
           CASE WHEN t.first_rel_rank IS NULL THEN 0.0
                ELSE 1.0 / CAST(t.first_rel_rank AS DOUBLE) END AS mrr_at_k,
           CAST(t.hits AS DOUBLE) / {_RANK_K}.0 AS p_at_k,
           CAST(t.hits AS DOUBLE) / CAST(r.n_rel_total AS DOUBLE) AS r_at_k
    FROM top t JOIN rel_total r USING (qid) JOIN q USING (qid)
    """,
)
def ml_ranking_metrics(spark, sf_dir):
    """Retrieval-evaluation metrics @ 10 for the embedding index — the eval
    harness every ANN/RAG pipeline needs next to ``ml_auc_exact``'s
    classification AUC: each of the 20 query vectors retrieves its exact
    cosine top-10 (ground-truth ranking via the bit-deterministic ordered
    fold), relevance = same class label, and the query-level metrics are
    hit count, first-relevant rank, MRR@10, precision@10 and recall@10.

    Per-QUERY rows (not a corpus mean) keep every number an exact integer
    ratio — 1/rank and hits/k are single IEEE divisions, identical in any
    engine, with no float summation order to pin down; a mean is one
    further exact aggregation for the caller.  Scale: queries broadcast
    against one candidate scan (the ``sim_cosine_topk_brute`` plan) and
    relevance joins a broadcast label histogram — on a real corpus swap
    the brute scorer for any ANN query in this file and the metric tail
    is unchanged (that substitution is exactly what RECALL.md measures)."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < _RANK_NQ)
    top = brute_force_topk(e, queries, k=_RANK_K)  # qid, cid, cosine, rn

    labels = e.select(F.col("vec_id").alias("cid"), F.col("label").alias("clabel"))
    qlab = queries.select(
        F.col("vec_id").alias("qid"), F.col("label").alias("qlabel")
    )
    rel_total = (
        qlab.join(
            e.select("vec_id", F.col("label").alias("clabel")),
            on=[F.col("clabel") == F.col("qlabel"), F.col("vec_id") != F.col("qid")],
        )
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_rel_total"))
    )
    flagged = (
        top.join(F.broadcast(labels), "cid")
        .join(F.broadcast(qlab), "qid")
        .withColumn("rel", (F.col("clabel") == F.col("qlabel")).cast("int"))
    )
    per_q = flagged.groupBy("qid", "qlabel").agg(
        F.sum("rel").cast("long").alias("hits_at_k"),
        F.min(F.when(F.col("rel") == 1, F.col("rn"))).cast("long").alias("first_rel_rank"),
    )
    return (
        per_q.join(F.broadcast(rel_total), "qid")
        .select(
            "qid",
            F.col("qlabel").cast("long").alias("label"),
            "n_rel_total",
            "hits_at_k",
            "first_rel_rank",
            F.when(F.col("first_rel_rank").isNull(), F.lit(0.0))
            .otherwise(F.lit(1.0) / F.col("first_rel_rank").cast("double"))
            .alias("mrr_at_k"),
            (F.col("hits_at_k").cast("double") / F.lit(float(_RANK_K))).alias("p_at_k"),
            (F.col("hits_at_k").cast("double") / F.col("n_rel_total").cast("double")).alias(
                "r_at_k"
            ),
        )
    )


# --------------------------------------------------------------------------- #
# sim_two_stage_rerank — the production ANN serving pattern, recall verified   #
# --------------------------------------------------------------------------- #
_TSR_K = 10
_TSR_PROBES = 2
_TSR_NCENT = 8  # centroids: vec_id 100..107


@register(
    "sim_two_stage_rerank",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS cvec
        FROM embeddings WHERE vec_id BETWEEN 100 AND 107
    ),
    all_assign AS (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_cosine("e.embedding", "c.cvec")} DESC,
                                           c.centroid_id) AS crn
        FROM embeddings e, cent c
    ),
    cand AS (
        SELECT vec_id AS cid, embedding AS cvec, centroid_id
        FROM all_assign WHERE crn = 1
    ),
    q AS (
        SELECT vec_id AS qid, embedding AS qvec, centroid_id
        FROM all_assign WHERE vec_id < 8 AND crn <= {_TSR_PROBES}
    ),
    shortlist AS (
        SELECT qid, cid, {_cosine("qvec", "cvec")} AS cosine
        FROM cand JOIN q USING (centroid_id) WHERE cid <> qid
    ),
    sl_size AS (
        SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_shortlist FROM shortlist GROUP BY qid
    ),
    ann AS (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rn
        FROM shortlist
        QUALIFY rn <= {_TSR_K}
    ),
    bq AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 8),
    brute AS (
        SELECT qid, cid FROM (
            SELECT bq.qid, e.vec_id AS cid,
                   ROW_NUMBER() OVER (PARTITION BY bq.qid
                                      ORDER BY {_cosine("bq.qvec", "e.embedding")} DESC,
                                               e.vec_id) AS rn
            FROM embeddings e, bq WHERE e.vec_id <> bq.qid
        ) WHERE rn <= {_TSR_K}
    ),
    n_corpus AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings)
    SELECT a.qid AS qid,
           s.n_shortlist,
           CAST(COUNT(b.cid) AS BIGINT) AS n_overlap,
           CAST(COUNT(b.cid) AS DOUBLE) / {_TSR_K}.0 AS recall_at_k,
           MAX(s.n_shortlist * {_TSR_NCENT}) <= MAX(4 * {_TSR_PROBES} * nc.n)
               AS shortlist_bounded
    FROM ann a
    LEFT JOIN brute b USING (qid, cid)
    JOIN sl_size s USING (qid)
    CROSS JOIN n_corpus nc
    GROUP BY a.qid, s.n_shortlist
    """,
)
def sim_two_stage_rerank(spark, sf_dir):
    """Two-stage ANN serving — shortlist by IVF multiprobe (2 of 8 inverted
    lists), exact-cosine rerank to top-10 — with the stage-1/stage-2
    contract VERIFIED IN-QUERY instead of in an offline report: per query,
    ``recall_at_k`` measures the reranked top-10 against the brute-force
    ground truth (RECALL.md's metric, now oracle-checked as data), and
    ``shortlist_bounded`` asserts the efficiency half of the bargain — the
    scanned candidate volume stays within 4x the expected probes/lists
    share of the corpus, so the query provably did NOT degenerate into a
    brute-force scan to buy its recall.

    Scale: stage 1 is the partition-pruned inverted-list equi-join
    (``sim_ann_ivf_topk``'s shape, x n_probes lists); stage 2 reranks only
    the shortlist; the ground-truth brute leg exists for verification and
    is the one piece a production corpus drops (there it IS the offline
    recall job).  All cosines are ordered-fold doubles — the recall join
    is on exact ids, no float tolerance anywhere."""
    from airflow_cms_inpatient_etl_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    from airflow_cms_inpatient_etl_spark.sources.registry import snapshot

    e = load_table(spark, sf_dir, "embeddings")
    # snapshot once: assignment, shortlist sizing, rerank and the brute
    # ground-truth leg all read the same scan
    e = snapshot(e)
    queries = e.filter(e.vec_id < 8)
    centroids = e.filter((e.vec_id >= 100) & (e.vec_id <= 107))

    ann = ivf_topk(e, queries, centroids, k=_TSR_K, n_probes=_TSR_PROBES)

    # shortlist size per query: the same list join, pre-rank
    from airflow_cms_inpatient_etl_spark.operators.similarity import ivf_assign

    cand = ivf_assign(e, centroids).select(F.col("vec_id").alias("cid"), "centroid_id")
    qassign = ivf_assign(queries, centroids, n_probes=_TSR_PROBES).select(
        F.col("vec_id").alias("qid"), "centroid_id"
    )
    sl_size = (
        cand.join(F.broadcast(qassign), "centroid_id")
        .filter(F.col("cid") != F.col("qid"))
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_shortlist"))
    )

    brute = brute_force_topk(e, queries, k=_TSR_K).select(
        "qid", "cid", F.lit(1).alias("in_brute")
    )
    n_corpus = e.agg(F.count(F.lit(1)).alias("n"))

    return (
        ann.join(brute, ["qid", "cid"], "left")
        .groupBy("qid")
        .agg(F.coalesce(F.sum("in_brute"), F.lit(0)).cast("long").alias("n_overlap"))
        .join(F.broadcast(sl_size), "qid")
        .crossJoin(F.broadcast(n_corpus))
        .select(
            "qid",
            "n_shortlist",
            "n_overlap",
            (F.col("n_overlap").cast("double") / F.lit(float(_TSR_K))).alias("recall_at_k"),
            (
                F.col("n_shortlist") * _TSR_NCENT <= 4 * _TSR_PROBES * F.col("n")
            ).alias("shortlist_bounded"),
        )
    )

