"""Embedding similarity (exact verifier, LSH/IVF/PQ ANN), defaults projection, report-time outputs, event-stream ops."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jsonschema_spark.plans import SparkPlanCompiler

from jsonschema_spark.queries.base import (
    _t,
)
from jsonschema_spark.queries.validation import (
    DOCS_TABLE_SCHEMA,
    _events_as_spans,
)
from jsonschema_spark.queries.corpus_text import (
    _SPLIT_FRACTIONS,
    _gopher_sql_chain,
    _hyperplane_sql_parts,
    _oracle_lsh_pairs,
)



# ----- defaults projection (reference Unmarshal path, SURVEY §2.9) ----------


def defaults_fill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nullify value for 'view' events, then apply schema defaults
    (reference: unmarshal.go applyDefaults — non-validating)."""
    from jsonschema_spark.operators.defaults import apply_defaults

    e = _t(spark, sf_dir, "events").withColumn(
        "value", F.when(F.col("event_type") == "view", F.lit(None)).otherwise(F.col("value"))
    )
    out = apply_defaults(e, {"properties": {"value": {"default": -1.0}, "props": {"default": "{}"}}})
    return out.select("event_id", F.round("value", 6).alias("value"))


ORACLE_DEFAULTS_FILL = """
SELECT event_id,
       round(coalesce(CASE WHEN event_type = 'view' THEN NULL ELSE value END, -1.0), 6) AS value
FROM events
"""


# ----- embedding-cosine near-dup + IVF ANN (scale paths) --------------------


# Hard cap for the O(n^2) exact verifier: 50k vectors = 1.25e9 candidate
# pairs, the most a verification SAMPLE should ever be. The scale path is
# cosine_near_dup_lsh; this twin exists only to ground-truth it, and the
# guard keeps it from ever being pointed at a production corpus.
EXACT_VERIFIER_MAX_ROWS = int(os.environ.get("SPARK_GRAFT_EXACT_VERIFIER_MAX", "50000"))


def cosine_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (the verifier for the LSH path).

    GUARDED: refuses corpora above EXACT_VERIFIER_MAX_ROWS (default 50k)
    because the plan is a deliberate O(n^2) crossJoin — use
    cosine_near_dup_lsh for anything bigger, or verify on a sample."""
    from jsonschema_spark.operators.simsearch import _dot, _norm

    # normalize ONCE per row (2 aggregates per vector), so each of the O(n^2)
    # pairs folds a single dot product instead of dot+norm+norm (3x)
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    n_vec = emb.count()
    if n_vec > EXACT_VERIFIER_MAX_ROWS:
        raise ValueError(
            f"cosine_near_dup_exact is the O(n^2) verifier twin and refuses "
            f"{n_vec} vectors (cap {EXACT_VERIFIER_MAX_ROWS}); run "
            f"cosine_near_dup_lsh instead, or verify on a <= "
            f"{EXACT_VERIFIER_MAX_ROWS}-row sample"
        )
    # norm staged in its own projection — an inlined _norm inside the
    # per-element lambda re-folds the array per element (O(d^2)/vector)
    unit = emb.withColumn("__n", _norm(F.col("vec"))).select(
        "id",
        F.transform("vec", lambda x: x / F.col("__n")).alias("u"),
    )
    # spread one side so the cartesian product gets parallelism x 1 tasks —
    # a single parquet split would run every interpreted pair-dot on 1 core
    a = unit.repartition(spark.sparkContext.defaultParallelism).select(
        F.col("id").alias("id_a"), F.col("u").alias("u_a")
    )
    b = unit.select(F.col("id").alias("id_b"), F.col("u").alias("u_b"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    cos = _dot(F.col("u_a"), F.col("u_b"))
    return pairs.select("id_a", "id_b", F.round(cos, 6).alias("cosine")).filter(
        F.col("cosine") >= 0.5
    )


ORACLE_COSINE_NEAR_DUP = """
WITH e AS (SELECT vec_id AS id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings)
SELECT a.id AS id_a, b.id AS id_b,
       round(list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
FROM e a JOIN e b ON a.id < b.id
WHERE list_dot_product(a.v, b.v) /
      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4999995
"""


def cosine_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed near-dup pairs — the scale path (rows-only check)."""
    from jsonschema_spark.operators.simsearch import cosine_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    # 0.5 is the lowest threshold this corpus supports; at 0.5 the per-plane
    # agreement is 2/3, so candidate pruning is inherently weak (any banding
    # with recall→1 admits ~all pairs — LSH's regime is ≥0.9 thresholds,
    # where the operator's defaults prune aggressively). 8 bands × 4 bits ⇒
    # recall ≈ 1-(1-(2/3)^4)^8 ≈ 0.83 with ~6% of pairs admitted.
    return cosine_near_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.5, bands=8, rows_per_band=4,
        spread=spark.sparkContext.defaultParallelism,
    )


def _oracle_cosine_lsh(
    threshold: float = 0.5, bands: int = 8, rows_per_band: int = 4, dim: int = 64
) -> str:
    """Full-pipeline oracle: same sha256-derived sign planes (inlined
    literals), same banded OR-construction, same unit-normalize-then-dot
    verification rounded at 6."""
    proj_cols, key_selects = _hyperplane_sql_parts(bands, rows_per_band, dim)
    return f"""
WITH e AS (
  SELECT vec_id AS id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
  FROM embeddings WHERE len(embedding) = {dim}),
proj AS (
  SELECT id, {proj_cols}
  FROM e),
keys AS (
  {key_selects}),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM keys a JOIN keys b ON a.band = b.band AND a.key = b.key AND a.id < b.id),
unit AS (
  SELECT id,
         CASE WHEN sqrt(list_dot_product(v, v)) > 0
              THEN [x / sqrt(list_dot_product(v, v)) FOR x IN v]
              ELSE v END AS u
  FROM e)
SELECT c.id_a, c.id_b, round(list_dot_product(ua.u, ub.u), 6) AS cosine
FROM cand c
JOIN unit ua ON ua.id = c.id_a
JOIN unit ub ON ub.id = c.id_b
WHERE round(list_dot_product(ua.u, ub.u), 6) >= {threshold}
"""


# Quantizer models (fit_centroids output) cached per (kind, sf_dir, n_cells):
# the model is a few KB of driver memory; re-fitting it on every query
# construction would re-scan the corpus for a deterministic result.
_CENTROID_MODELS: dict[tuple, list] = {}


def kmeans_cells_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (4 cells, 2 iterations, lowest-id seeds,
    empty cells keep their centroid) fit over the embeddings table, then the
    corpus assigned with the final model: per-cell population + centroid
    norm. This is the production quantizer behind IVF/SemDeDup cell
    assignment — the oracle replays both Lloyd iterations as unrolled SQL."""
    from jsonschema_spark.operators.simsearch import fit_kmeans_centroids, kmeans_assign

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    key = ("kmeans", sf_dir, 4, 2)
    if key not in _CENTROID_MODELS:
        _CENTROID_MODELS[key] = fit_kmeans_centroids(emb, 4, n_iters=2)
    model = _CENTROID_MODELS[key]
    norm_lit = F.array(*[F.lit(n) for _, _, n in model])
    return (
        kmeans_assign(emb, model)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .select(
            F.col("cell").cast("int").alias("cell"),
            "n_vectors",
            F.round(F.element_at(norm_lit, F.col("cell").cast("int") + 1), 6).alias(
                "centroid_norm"
            ),
        )
    )


def _oracle_kmeans(n_cells: int = 4, dim: int = 64) -> str:
    """Both Lloyd iterations unrolled in SQL: seeds = lowest-id vectors,
    assignment = argmax(v·c − ½|c|²) with ties to the lowest cell
    (row_number ordered aff DESC, cell ASC — the engine's array_position
    tie-break), update = per-dimension mean with empty cells keeping the
    previous centroid (LEFT JOIN + coalesce)."""
    assign = (
        "SELECT vec_id, cell FROM ("
        "SELECT cv.vec_id, m.cell, "
        "row_number() OVER (PARTITION BY cv.vec_id ORDER BY "
        "list_dot_product(cv.v, m.c) - 0.5 * list_dot_product(m.c, m.c) DESC, m.cell ASC) AS rn "
        "FROM corpus cv, {cents} m) WHERE rn = 1"
    )
    means = (
        "SELECT p.cell, coalesce(u.c, p.c) AS c "
        "FROM {prev} p LEFT JOIN ("
        "SELECT cell, list(m ORDER BY i) AS c FROM ("
        "SELECT a.cell, t.i, avg(list_extract(cv.v, t.i)) AS m "
        "FROM {assigned} a JOIN corpus cv USING (vec_id), range(1, {dimp1}) t(i) "
        "GROUP BY a.cell, t.i) GROUP BY cell) u USING (cell)"
    )
    return f"""
WITH corpus AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS c
  FROM (SELECT vec_id, v FROM corpus ORDER BY vec_id LIMIT {n_cells})),
a1 AS ({assign.format(cents='seeds')}),
m1 AS ({means.format(prev='seeds', assigned='a1', dimp1=dim + 1)}),
a2 AS ({assign.format(cents='m1')}),
m2 AS ({means.format(prev='m1', assigned='a2', dimp1=dim + 1)}),
final AS ({assign.format(cents='m2')})
SELECT f.cell, count(*) AS n_vectors,
       round(sqrt(list_dot_product(m.c, m.c)), 6) AS centroid_norm
FROM final f JOIN m2 m USING (cell)
GROUP BY f.cell, m.c
"""


def pq_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: fit 4 subspace codebooks (4 cells each, one
    Lloyd iteration, lowest-id seeds), encode the corpus to 4-code arrays,
    and answer 3 queries by asymmetric-distance top-5 over the codes. The
    oracle replays the whole chain — per-subspace k-means, encoding, ADC —
    as unrolled SQL."""
    from jsonschema_spark.operators.simsearch import fit_pq_codebooks, pq_topk

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    key = ("pq", sf_dir, 4, 4, 1)
    if key not in _CENTROID_MODELS:
        _CENTROID_MODELS[key] = fit_pq_codebooks(emb, m=4, ksub=4, n_iters=1)
    books = _CENTROID_MODELS[key]
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = pq_topk(emb, queries, books, k=5)
    return out.select("query_id", "neighbor_id", "rank", F.round("adc_dist", 6).alias("adc_dist"))


def _oracle_pq_topk(m: int = 4, ksub: int = 4, dim: int = 64) -> str:
    """The PQ chain unrolled: per subspace — lowest-id seeds, one Lloyd
    assign+update (empty cells keep their seed), final encode — then ADC
    scoring ||q||² + Σ_s (||c_s||² − 2 q_s·c_s) with (dist ASC, id ASC)
    ranking, mirroring the engine's fold orders term by term."""
    sub = dim // m
    assign = (
        "SELECT vec_id, cell FROM ("
        "SELECT cv.vec_id, mm.cell, row_number() OVER (PARTITION BY cv.vec_id ORDER BY "
        "list_dot_product(cv.v, mm.c) - 0.5 * list_dot_product(mm.c, mm.c) DESC, mm.cell ASC) AS rn "
        "FROM {src} cv, {cents} mm) WHERE rn = 1"
    )
    ctes = ["corpus AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings)"]
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        ctes.append(f"c{s} AS (SELECT vec_id, list_slice(v, {lo}, {hi}) AS v FROM corpus)")
        ctes.append(
            f"seed{s} AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS c "
            f"FROM (SELECT vec_id, v FROM c{s} ORDER BY vec_id LIMIT {ksub}))"
        )
        ctes.append(f"a{s} AS ({assign.format(src=f'c{s}', cents=f'seed{s}')})")
        ctes.append(
            f"m{s} AS (SELECT p.cell, coalesce(u.c, p.c) AS c FROM seed{s} p LEFT JOIN ("
            f"SELECT cell, list(mval ORDER BY i) AS c FROM ("
            f"SELECT a.cell, t.i, avg(list_extract(cv.v, t.i)) AS mval "
            f"FROM a{s} a JOIN c{s} cv USING (vec_id), range(1, {sub + 1}) t(i) "
            f"GROUP BY a.cell, t.i) GROUP BY cell) u USING (cell))"
        )
        ctes.append(f"f{s} AS ({assign.format(src=f'c{s}', cents=f'm{s}')})")
    ctes.append("q AS (SELECT vec_id AS query_id, v AS qv FROM corpus WHERE vec_id < 3)")
    dist_terms = ["list_dot_product(q.qv, q.qv)"]
    joins = ["q CROSS JOIN f0"]
    for s in range(m):
        if s > 0:
            joins.append(f"JOIN f{s} USING (vec_id)")
        joins.append(f"JOIN m{s} ON m{s}.cell = f{s}.cell")
        lo, hi = s * sub + 1, (s + 1) * sub
        dist_terms.append(
            f"(list_dot_product(m{s}.c, m{s}.c) - 2 * list_dot_product(list_slice(q.qv, {lo}, {hi}), m{s}.c))"
        )
    ctes.append(
        "scored AS (SELECT q.query_id, f0.vec_id AS neighbor_id, "
        + " + ".join(dist_terms)
        + " AS adc FROM "
        + " ".join(joins)
        + ")"
    )
    ctes.append(
        "ranked AS (SELECT query_id, neighbor_id, "
        "row_number() OVER (PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS rnk, adc "
        "FROM scored)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank, round(adc, 6) AS adc_dist "
        "FROM ranked WHERE rnk <= 5"
    )


def ivfpq_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ ANN: 4 coarse cells (lowest-id centroid placeholder, L2
    affinity), the same 4×4 PQ codebooks as `pq_topk_embeddings`, 2 probed
    cells per query, ADC top-5 over the probed codes only."""
    from jsonschema_spark.operators.simsearch import (
        fit_centroids,
        fit_pq_codebooks,
        ivfpq_topk,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    ckey = ("ivfpq-cent", sf_dir, 4)
    if ckey not in _CENTROID_MODELS:
        _CENTROID_MODELS[ckey] = fit_centroids(emb, 4)
    bkey = ("pq", sf_dir, 4, 4, 1)
    if bkey not in _CENTROID_MODELS:
        _CENTROID_MODELS[bkey] = fit_pq_codebooks(emb, m=4, ksub=4, n_iters=1)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivfpq_topk(
        emb, queries, _CENTROID_MODELS[bkey], _CENTROID_MODELS[ckey], k=5, n_probe=2
    )
    return out.select("query_id", "neighbor_id", "rank", F.round("adc_dist", 6).alias("adc_dist"))


def _oracle_ivfpq_topk(
    n_cells: int = 4, n_probe: int = 2, m: int = 4, ksub: int = 4, dim: int = 64
) -> str:
    """IVF+PQ unrolled: coarse cells = lowest-id centroids with L2-affinity
    assignment, PQ chain identical to `_oracle_pq_topk`, scoring restricted
    to each query's n_probe closest cells."""
    sub = dim // m
    assign = (
        "SELECT vec_id, cell FROM ("
        "SELECT cv.vec_id, mm.cell, row_number() OVER (PARTITION BY cv.vec_id ORDER BY "
        "list_dot_product(cv.v, mm.c) - 0.5 * list_dot_product(mm.c, mm.c) DESC, mm.cell ASC) AS rn "
        "FROM {src} cv, {cents} mm) WHERE rn = 1"
    )
    ctes = ["corpus AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings)"]
    ctes.append(
        f"cent AS (SELECT vec_id AS cell, v AS c FROM (SELECT vec_id, v FROM corpus ORDER BY vec_id LIMIT {n_cells}))"
    )
    ctes.append(f"cc AS ({assign.format(src='corpus', cents='cent')})")
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        ctes.append(f"c{s} AS (SELECT vec_id, list_slice(v, {lo}, {hi}) AS v FROM corpus)")
        ctes.append(
            f"seed{s} AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS c "
            f"FROM (SELECT vec_id, v FROM c{s} ORDER BY vec_id LIMIT {ksub}))"
        )
        ctes.append(f"a{s} AS ({assign.format(src=f'c{s}', cents=f'seed{s}')})")
        ctes.append(
            f"m{s} AS (SELECT p.cell, coalesce(u.c, p.c) AS c FROM seed{s} p LEFT JOIN ("
            f"SELECT cell, list(mval ORDER BY i) AS c FROM ("
            f"SELECT a.cell, t.i, avg(list_extract(cv.v, t.i)) AS mval "
            f"FROM a{s} a JOIN c{s} cv USING (vec_id), range(1, {sub + 1}) t(i) "
            f"GROUP BY a.cell, t.i) GROUP BY cell) u USING (cell))"
        )
        ctes.append(f"f{s} AS ({assign.format(src=f'c{s}', cents=f'm{s}')})")
    ctes.append("q AS (SELECT vec_id AS query_id, v AS qv FROM corpus WHERE vec_id < 3)")
    ctes.append(
        "qp AS (SELECT query_id, qv, cell FROM ("
        "SELECT q.query_id, q.qv, cent.cell, row_number() OVER (PARTITION BY q.query_id ORDER BY "
        "list_dot_product(q.qv, cent.c) - 0.5 * list_dot_product(cent.c, cent.c) DESC, cent.cell ASC) AS rn "
        f"FROM q, cent) WHERE rn <= {n_probe})"
    )
    dist_terms = ["list_dot_product(qp.qv, qp.qv)"]
    joins = ["qp JOIN cc ON qp.cell = cc.cell"]
    for s in range(m):
        joins.append(f"JOIN f{s} ON f{s}.vec_id = cc.vec_id")
        joins.append(f"JOIN m{s} ON m{s}.cell = f{s}.cell")
        lo, hi = s * sub + 1, (s + 1) * sub
        dist_terms.append(
            f"(list_dot_product(m{s}.c, m{s}.c) - 2 * list_dot_product(list_slice(qp.qv, {lo}, {hi}), m{s}.c))"
        )
    ctes.append(
        "scored AS (SELECT qp.query_id, cc.vec_id AS neighbor_id, "
        + " + ".join(dist_terms)
        + " AS adc FROM "
        + " ".join(joins)
        + ")"
    )
    ctes.append(
        "ranked AS (SELECT query_id, neighbor_id, "
        "row_number() OVER (PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS rnk, adc "
        "FROM scored)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank, round(adc, 6) AS adc_dist "
        "FROM ranked WHERE rnk <= 5"
    )


def ivfpq_residual_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF+PQ (the FAISS recipe): codebooks fit on v − centroid[cell]
    residuals, ADC against the per-(query,cell) residual target. Same coarse
    model and probe policy as `ivfpq_topk_embeddings`."""
    from jsonschema_spark.operators.simsearch import (
        fit_centroids,
        fit_residual_pq_codebooks,
        ivfpq_residual_topk,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    ckey = ("ivfpq-cent", sf_dir, 4)
    if ckey not in _CENTROID_MODELS:
        _CENTROID_MODELS[ckey] = fit_centroids(emb, 4)
    cents = _CENTROID_MODELS[ckey]
    rkey = ("pq-res", sf_dir, 4, 4, 1)
    if rkey not in _CENTROID_MODELS:
        _CENTROID_MODELS[rkey] = fit_residual_pq_codebooks(emb, cents, m=4, ksub=4, n_iters=1)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivfpq_residual_topk(
        emb, queries, _CENTROID_MODELS[rkey], cents, k=5, n_probe=2
    )
    return out.select("query_id", "neighbor_id", "rank", F.round("adc_dist", 6).alias("adc_dist"))


def _oracle_ivfpq_residual_topk(
    n_cells: int = 4, n_probe: int = 2, m: int = 4, ksub: int = 4, dim: int = 64
) -> str:
    """Residual IVF+PQ unrolled: coarse assign, residual vectors
    (list_transform subtraction), per-subspace k-means over residual slices,
    probe-restricted ADC against the residual query target."""
    sub = dim // m
    assign = (
        "SELECT vec_id, cell FROM ("
        "SELECT cv.vec_id, mm.cell, row_number() OVER (PARTITION BY cv.vec_id ORDER BY "
        "list_dot_product(cv.v, mm.c) - 0.5 * list_dot_product(mm.c, mm.c) DESC, mm.cell ASC) AS rn "
        "FROM {src} cv, {cents} mm) WHERE rn = 1"
    )
    ctes = ["corpus AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings)"]
    ctes.append(
        f"cent AS (SELECT vec_id AS cell, v AS c FROM (SELECT vec_id, v FROM corpus ORDER BY vec_id LIMIT {n_cells}))"
    )
    ctes.append(f"cc AS ({assign.format(src='corpus', cents='cent')})")
    ctes.append(
        f"rc AS (SELECT cc.vec_id, "
        f"list_transform(range(1, {dim + 1}), i -> list_extract(corpus.v, i) - list_extract(cent.c, i)) AS v "
        f"FROM cc JOIN corpus USING (vec_id) JOIN cent ON cent.cell = cc.cell)"
    )
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        ctes.append(f"c{s} AS (SELECT vec_id, list_slice(v, {lo}, {hi}) AS v FROM rc)")
        ctes.append(
            f"seed{s} AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS c "
            f"FROM (SELECT vec_id, v FROM c{s} ORDER BY vec_id LIMIT {ksub}))"
        )
        ctes.append(f"a{s} AS ({assign.format(src=f'c{s}', cents=f'seed{s}')})")
        ctes.append(
            f"m{s} AS (SELECT p.cell, coalesce(u.c, p.c) AS c FROM seed{s} p LEFT JOIN ("
            f"SELECT cell, list(mval ORDER BY i) AS c FROM ("
            f"SELECT a.cell, t.i, avg(list_extract(cv.v, t.i)) AS mval "
            f"FROM a{s} a JOIN c{s} cv USING (vec_id), range(1, {sub + 1}) t(i) "
            f"GROUP BY a.cell, t.i) GROUP BY cell) u USING (cell))"
        )
        ctes.append(f"f{s} AS ({assign.format(src=f'c{s}', cents=f'm{s}')})")
    ctes.append("q AS (SELECT vec_id AS query_id, v AS qv FROM corpus WHERE vec_id < 3)")
    ctes.append(
        "qp AS (SELECT query_id, qv, cell FROM ("
        "SELECT q.query_id, q.qv, cent.cell, row_number() OVER (PARTITION BY q.query_id ORDER BY "
        "list_dot_product(q.qv, cent.c) - 0.5 * list_dot_product(cent.c, cent.c) DESC, cent.cell ASC) AS rn "
        f"FROM q, cent) WHERE rn <= {n_probe})"
    )
    ctes.append(
        f"qt AS (SELECT qp.query_id, qp.cell, "
        f"list_transform(range(1, {dim + 1}), i -> list_extract(qp.qv, i) - list_extract(cent.c, i)) AS t "
        f"FROM qp JOIN cent USING (cell))"
    )
    dist_terms = ["list_dot_product(qt.t, qt.t)"]
    joins = ["qt JOIN cc ON qt.cell = cc.cell"]
    for s in range(m):
        joins.append(f"JOIN f{s} ON f{s}.vec_id = cc.vec_id")
        joins.append(f"JOIN m{s} ON m{s}.cell = f{s}.cell")
        lo, hi = s * sub + 1, (s + 1) * sub
        dist_terms.append(
            f"(list_dot_product(m{s}.c, m{s}.c) - 2 * list_dot_product(list_slice(qt.t, {lo}, {hi}), m{s}.c))"
        )
    ctes.append(
        "scored AS (SELECT qt.query_id, cc.vec_id AS neighbor_id, "
        + " + ".join(dist_terms)
        + " AS adc FROM "
        + " ".join(joins)
        + ")"
    )
    ctes.append(
        "ranked AS (SELECT query_id, neighbor_id, "
        "row_number() OVER (PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS rnk, adc "
        "FROM scored)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank, round(adc, 6) AS adc_dist "
        "FROM ranked WHERE rnk <= 5"
    )


def ivf_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: 8 coarse cells (vectors with smallest ids as centroids),
    probe the 3 closest cells, top-5 per query."""
    from jsonschema_spark.operators.simsearch import fit_centroids, ivf_topk

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    key = ("ivf", sf_dir, 8)
    if key not in _CENTROID_MODELS:
        _CENTROID_MODELS[key] = fit_centroids(emb, 8)
    out = ivf_topk(emb, queries, k=5, n_cells=8, n_probe=3, centroids=_CENTROID_MODELS[key])
    return out.select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))


ORACLE_IVF_TOPK = """
WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings),
cent AS (SELECT vec_id AS cent_id, v AS cv FROM e ORDER BY vec_id LIMIT 8),
corpus_cells AS (
  SELECT vec_id AS corpus_id, v AS corpus_vec, cent_id AS cell FROM (
    SELECT e.vec_id, e.v, cent.cent_id,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             list_dot_product(e.v, cent.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))) DESC,
             cent.cent_id ASC) AS rk
    FROM e, cent) WHERE rk = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
query_cells AS (
  SELECT query_id, qv, cent_id AS cell FROM (
    SELECT q.query_id, q.qv, cent.cent_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             list_dot_product(q.qv, cent.cv) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cent.cv, cent.cv))) DESC,
             cent.cent_id ASC) AS rk
    FROM q, cent) WHERE rk <= 3),
scored AS (
  SELECT qc.query_id, cc.corpus_id AS neighbor_id,
         list_dot_product(qc.qv, cc.corpus_vec) /
         (sqrt(list_dot_product(qc.qv, qc.qv)) * sqrt(list_dot_product(cc.corpus_vec, cc.corpus_vec))) AS cos
  FROM query_cells qc JOIN corpus_cells cc ON qc.cell = cc.cell),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank, cos
  FROM scored)
SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM ranked WHERE rank <= 5
"""


def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: coarse-quantize into 16 cells
    (deterministic lowest-id centroids, argmax-cosine assignment), then keep
    an item iff no lower-id item in its cell has cosine >= 0.95."""
    from jsonschema_spark.operators.semdedup import fit_unit_centroids, semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    key = ("semdedup", sf_dir, 16)
    if key not in _CENTROID_MODELS:
        _CENTROID_MODELS[key] = fit_unit_centroids(emb, 16)
    return semantic_dedup(
        emb, threshold=0.95, n_cells=16, centroids=_CENTROID_MODELS[key]
    )


ORACLE_SEMANTIC_DEDUP = """
WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings),
u AS (SELECT vec_id AS id,
             CASE WHEN sqrt(list_dot_product(v, v)) > 0
                  THEN [x / sqrt(list_dot_product(v, v)) FOR x IN v] ELSE v END AS uv
      FROM e),
cent AS (SELECT id AS cent_id, uv AS cu FROM u ORDER BY id LIMIT 16),
cells AS (
  SELECT id, uv, cent_id AS cell FROM (
    SELECT u.id, u.uv, cent.cent_id,
           row_number() OVER (PARTITION BY u.id ORDER BY
             list_dot_product(u.uv, cent.cu) DESC, cent.cent_id ASC) AS rk
    FROM u, cent) WHERE rk = 1),
nn AS (
  SELECT b.id AS id, max(round(list_dot_product(a.uv, b.uv), 6)) AS nn_lower_cosine
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.id < b.id
  GROUP BY 1)
SELECT c.id, c.cell, nn.nn_lower_cosine,
       (nn.nn_lower_cosine IS NULL OR nn.nn_lower_cosine < 0.95) AS keep
FROM cells c LEFT JOIN nn USING (id)
"""



def proto_prune_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4/SSL-prototypes pruning over the embeddings table: 16 deterministic
    cells (same quantizer model as semantic_dedup_embeddings -- the fit is
    shared via the model cache), rank within each cell by cosine-to-centroid,
    drop the most-prototypical quarter (cnt * 1 div 4) per cell."""
    from jsonschema_spark.operators.pruning import prototype_prune
    from jsonschema_spark.operators.semdedup import fit_unit_centroids

    emb = _t(spark, sf_dir, "embeddings")
    key = ("semdedup", sf_dir, 16)
    if key not in _CENTROID_MODELS:
        _CENTROID_MODELS[key] = fit_unit_centroids(emb, 16)
    return prototype_prune(
        emb, n_cells=16, drop_num=1, drop_den=4, centroids=_CENTROID_MODELS[key]
    )


ORACLE_PROTO_PRUNE = """
WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings),
u AS (SELECT vec_id AS id,
             CASE WHEN sqrt(list_dot_product(v, v)) > 0
                  THEN [x / sqrt(list_dot_product(v, v)) FOR x IN v] ELSE v END AS uv
      FROM e),
cent AS (SELECT id AS cent_id, uv AS cu FROM u ORDER BY id LIMIT 16),
cells AS (
  SELECT id, cell, floor(aff * 1000000.0 + 0.000001) / 1000000.0 AS proto FROM (
    SELECT u.id, cent.cent_id AS cell, list_dot_product(u.uv, cent.cu) AS aff,
           row_number() OVER (PARTITION BY u.id ORDER BY
             list_dot_product(u.uv, cent.cu) DESC, cent.cent_id ASC) AS rk
    FROM u, cent) WHERE rk = 1),
ranked AS (
  SELECT id, cell, proto,
         row_number() OVER (PARTITION BY cell ORDER BY proto DESC, id ASC) AS proto_rank,
         count(*) OVER (PARTITION BY cell) AS cnt
  FROM cells)
SELECT id, cell, proto, CAST(proto_rank AS BIGINT) AS proto_rank,
       proto_rank > (cnt * 1) // 4 AS kept
FROM ranked
"""


def quality_auc_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-AUC evaluation of the NB quality model (the calibration
    readout a pipeline checks before trusting a classifier gate): fit on
    lang='en' weak labels, score every doc, bucket scores on a fixed
    power-of-two grid and compute Mann-Whitney AUC over the bounded
    histogram. One row: (auc, n_pos, n_neg)."""
    from jsonschema_spark.operators.quality_model import (
        binary_auc_bucketed,
        fit_nb_quality_model,
        score_quality_model,
    )

    d = _t(spark, sf_dir, "documents").withColumn("pos", F.col("lang") == "en")
    weights, consts = fit_nb_quality_model(d, "doc_id", "text", "pos")
    scored = score_quality_model(d, weights, consts, "doc_id", "text")
    labeled = scored.join(d.select(F.col("doc_id").alias("id"), "pos"), "id")
    return binary_auc_bucketed(labeled, "score", "pos")


ORACLE_QUALITY_AUC = """
WITH t AS (
  SELECT doc_id, lang = 'en' AS pos,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents),
e AS (
  SELECT doc_id, pos,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 262144 AS b
  FROM (SELECT doc_id, pos, unnest(toks) AS tok FROM t)),
cnt AS (
  SELECT b, sum(CASE WHEN pos THEN 1 ELSE 0 END) AS cp,
            sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS cn
  FROM e GROUP BY 1),
tot AS (SELECT sum(cp) AS tp, sum(cn) AS tn FROM cnt),
w AS (
  SELECT b, ln((cp + 1.0) / (tp + 262144.0)) - ln((cn + 1.0) / (tn + 262144.0)) AS weight
  FROM cnt, tot),
prior AS (
  SELECT ln(CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE)
            / sum(CASE WHEN NOT pos THEN 1 ELSE 0 END)) AS bias
  FROM t),
sc AS (
  SELECT e.doc_id, bool_or(e.pos) AS pos, bias + sum(w.weight) AS score
  FROM e JOIN w USING (b), prior GROUP BY e.doc_id, bias),
hb AS (
  SELECT least(greatest(CAST(floor((score - (-64.0)) / 0.125) AS BIGINT), 0), 1023) AS b,
         pos
  FROM sc),
h AS (
  SELECT b, sum(CASE WHEN pos THEN 1 ELSE 0 END) AS p,
            sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS n
  FROM hb GROUP BY 1),
terms AS (
  SELECT p, n,
         coalesce(sum(n) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS cum_n_below
  FROM h)
SELECT round(sum(p * (cum_n_below + n * 0.5)) / (sum(p) * sum(n)), 6) AS auc,
       CAST(sum(p) AS BIGINT) AS n_pos, CAST(sum(n) AS BIGINT) AS n_neg
FROM terms
"""


def encoding_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-damage detector over documents with DETERMINISTIC injected
    damage (the synthetic corpus is clean ASCII, so the query seeds the three
    damage classes on fixed doc_id residues to exercise every counter):
    doc_id%13==0 gets a mojibake digraph, %17==0 a U+FFFD, %19==0 a C0
    control byte. The operator itself (operators/text.encoding_quality) is a
    pure narrow projection."""
    from jsonschema_spark.operators.text import MOJIBAKE_MARKERS, encoding_quality

    d = _t(spark, sf_dir, "documents")
    damaged = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 0, F.concat("text", F.lit(MOJIBAKE_MARKERS[0])))
        .when(F.col("doc_id") % 17 == 0, F.concat("text", F.lit("\ufffd")))
        .when(F.col("doc_id") % 19 == 0, F.concat("text", F.lit(chr(1))))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return encoding_quality(damaged, "doc_id", "text")


def _oracle_encoding_quality() -> str:
    from jsonschema_spark.operators.text import MOJIBAKE_MARKERS

    moji = " + ".join(
        f"(length(s) - length(replace(s, '{m}', ''))) // {len(m)}"
        for m in MOJIBAKE_MARKERS
    )
    m0 = MOJIBAKE_MARKERS[0]
    return f"""
WITH dmg AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN text || '{m0}'
              WHEN doc_id % 17 = 0 THEN text || chr(65533)
              WHEN doc_id % 19 = 0 THEN text || chr(1)
              ELSE text END AS s
  FROM documents),
c AS (
  SELECT doc_id AS id,
         CAST(length(s) - length(replace(s, chr(65533), '')) AS BIGINT) AS n_replacement,
         CAST({moji} AS BIGINT) AS n_mojibake,
         CAST(length(s) - length(regexp_replace(s,
           '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g')) AS BIGINT) AS n_ctrl,
         round(CASE WHEN length(s) > 0
               THEN CAST(length(regexp_replace(s, '[^\\x20-\\x7e]', '', 'g')) AS DOUBLE)
                    / length(s)
               ELSE 1.0 END, 6) AS ascii_ratio
  FROM dmg)
SELECT id, n_replacement, n_mojibake, n_ctrl, ascii_ratio,
       (n_replacement = 0 AND n_mojibake = 0 AND n_ctrl = 0
        AND ascii_ratio >= 0.6) AS enc_ok
FROM c
"""



def lsh_recall_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall/precision of the banded-LSH near-dup path against the
    exact O(n^2) verifier on the same corpus — the self-evaluation a pipeline
    runs on a sample before trusting LSH parameters at full scale. One row:
    (n_truth, n_approx, n_hit, recall, precision)."""
    from jsonschema_spark.operators.simsearch import pair_set_eval

    return pair_set_eval(
        cosine_near_dup_exact(spark, sf_dir), cosine_near_dup_lsh(spark, sf_dir)
    )


def _oracle_lsh_recall() -> str:
    exact = ORACLE_COSINE_NEAR_DUP.strip().rstrip(";")
    lsh = _oracle_cosine_lsh().strip().rstrip(";")
    return f"""
WITH truth AS ({exact}),
approx AS ({lsh}),
j AS (
  SELECT t.id_a IS NOT NULL AS in_t, a.id_a IS NOT NULL AS in_a
  FROM truth t FULL OUTER JOIN approx a
    ON t.id_a = a.id_a AND t.id_b = a.id_b)
SELECT CAST(COALESCE(sum(CASE WHEN in_t THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_truth,
       CAST(COALESCE(sum(CASE WHEN in_a THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_approx,
       CAST(COALESCE(sum(CASE WHEN in_t AND in_a THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit,
       -- counts coalesce to 0 on an EMPTY pair set (sum over zero rows is
       -- NULL); the ratios stay NULL via 0/0, matching pair_set_eval
       round(CAST(COALESCE(sum(CASE WHEN in_t AND in_a THEN 1 ELSE 0 END), 0) AS DOUBLE)
             / COALESCE(sum(CASE WHEN in_t THEN 1 ELSE 0 END), 0), 6) AS recall,
       round(CAST(COALESCE(sum(CASE WHEN in_t AND in_a THEN 1 ELSE 0 END), 0) AS DOUBLE)
             / COALESCE(sum(CASE WHEN in_a THEN 1 ELSE 0 END), 0), 6) AS precision
FROM j
"""



def pack_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency readout for the pack_docs configuration (budget
    512, 8 shards): pack count, waste tokens, fill rate -- the metric a
    batch-prep pipeline watches when tuning budget/shard count."""
    from jsonschema_spark.operators.packing import pack_stats
    from jsonschema_spark.operators.text import token_count

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).cast("bigint").alias("tokens")
    )
    return pack_stats(d, "doc_id", "tokens", budget=512, n_shards=8)


ORACLE_PACK_STATS = """
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS tokens,
         CAST(('0x' || substr(md5('pack' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard
  FROM documents),
per_shard AS (
  SELECT shard, count(*) AS docs, sum(tokens) AS toks,
         (sum(tokens) + 512 - 1) // 512 AS packs
  FROM t GROUP BY 1)
SELECT CAST(sum(docs) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_shards_used,
       CAST(sum(packs) AS BIGINT) AS n_packs,
       CAST(sum(toks) AS BIGINT) AS total_tokens,
       CAST(sum(packs) * 512 - sum(toks) AS BIGINT) AS waste_tokens,
       round(CAST(sum(toks) AS DOUBLE) / (sum(packs) * 512), 6) AS fill_rate
FROM per_shard
"""



def span_interleave_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc interleaving shape of the interleaved text+media docs: span
    counts by kind, maximal same-kind run count, media fraction — the
    multimodal layout signals batch prep filters and resamples on."""
    from jsonschema_spark.operators.spans import span_interleave_stats

    return span_interleave_stats(_events_as_spans(spark, sf_dir))


ORACLE_SPAN_INTERLEAVE = """
WITH k AS (
  SELECT user_id AS doc_id,
         CASE WHEN event_type IN ('click','view') THEN 'text' ELSE 'media' END AS kind,
         lag(CASE WHEN event_type IN ('click','view') THEN 'text' ELSE 'media' END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END) AS BIGINT) AS n_text,
       CAST(sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END) AS BIGINT) AS n_media,
       CAST(1 + sum(CASE WHEN prev IS NOT NULL AND kind <> prev THEN 1 ELSE 0 END) AS BIGINT) AS n_runs,
       floor(CAST(sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) * 1e6 + 1e-6) / 1e6 AS media_frac
FROM k GROUP BY doc_id
"""


def span_transitions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level span-kind transition matrix over the interleaved docs —
    the layout-drift table (a shifted text→media rate changes interleaving
    even when per-kind totals hold)."""
    from jsonschema_spark.operators.spans import span_transition_matrix

    out = span_transition_matrix(_events_as_spans(spark, sf_dir))
    return out.select("from_kind", "to_kind", F.col("cnt").cast("bigint").alias("cnt"))


ORACLE_SPAN_TRANSITIONS = """
WITH k AS (
  SELECT user_id,
         CASE WHEN event_type IN ('click','view') THEN 'text' ELSE 'media' END AS kind,
         lag(CASE WHEN event_type IN ('click','view') THEN 'text' ELSE 'media' END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events)
SELECT prev AS from_kind, kind AS to_kind, CAST(count(*) AS BIGINT) AS cnt
FROM k WHERE prev IS NOT NULL GROUP BY 1, 2
"""


def pack_interleaved_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved-aware packing: per-doc budget cost = whitespace tokens of
    text spans + 64 tokens per media span (vision-token placeholder), then
    concat-then-chunk pack assignment (budget 2048, 8 shards) — the
    multimodal batch-prep step the plain token packer can't cost."""
    from jsonschema_spark.operators.packing import (
        interleaved_token_cost,
        pack_documents,
    )

    d = _events_as_spans(spark, sf_dir).select(
        "doc_id",
        interleaved_token_cost("spans", media_token_cost=64).alias("tokens"),
    )
    return pack_documents(d, "doc_id", "tokens", budget=2048, n_shards=8, salt="packi")


ORACLE_PACK_INTERLEAVED = r"""
WITH t AS (
  SELECT user_id AS doc_id,
         CAST(sum(CASE WHEN event_type IN ('click','view')
                       THEN COALESCE(CASE WHEN len(trim(props)) = 0 THEN 0
                                          ELSE len(string_split_regex(trim(props), '\s+')) END, 0)
                       ELSE 64 END) AS BIGINT) AS tokens
  FROM events GROUP BY 1),
s AS (
  SELECT doc_id, tokens,
         CAST(('0x' || substr(md5('packi' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard
  FROM t),
c AS (
  SELECT doc_id, tokens, shard,
         CAST(sum(tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) - tokens AS start
  FROM s)
SELECT doc_id, tokens, shard,
       start // 2048 AS pack_id,
       start % 2048 AS tok_offset
FROM c
"""


def source_overlap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cross-source shingle-overlap estimates via bottom-k (KMV)
    sketches (k=64): the mixture-design / snapshot-contamination audit.
    Groups are three doc_id-derived cohorts (the documents table's shared
    vocabulary gives them genuine, non-vacuous shingle overlap)."""
    from jsonschema_spark.operators.overlap import source_overlap

    d = _t(spark, sf_dir, "documents", hot=True).select(
        F.concat(F.lit("g"), (F.col("doc_id") % 3).cast("string")).alias("grp"),
        "text",
    )
    return source_overlap(d, "grp", "text", k=64, shingle_n=3, buckets=8)


ORACLE_SOURCE_OVERLAP = r"""
WITH d AS (
  SELECT 'g' || CAST(doc_id % 3 AS VARCHAR) AS grp,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
  FROM documents),
sh AS (
  SELECT grp,
         CASE WHEN len(t) >= 3
              THEN list_distinct([array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)])
              ELSE [array_to_string(t, ' ')] END AS s
  FROM d),
hx AS (
  SELECT DISTINCT grp, CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) AS h
  FROM sh, unnest(s) AS u(x)),
sk AS (
  SELECT grp, h FROM (
    SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS r FROM hx)
  WHERE r <= 64),
pairs AS (
  SELECT a.grp AS src_a, b.grp AS src_b
  FROM (SELECT DISTINCT grp FROM sk) a
  JOIN (SELECT DISTINCT grp FROM sk) b ON a.grp < b.grp),
m AS (
  SELECT p.src_a, p.src_b, s.h,
         max(CASE WHEN s.grp = p.src_a THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN s.grp = p.src_b THEN 1 ELSE 0 END) AS in_b
  FROM pairs p JOIN sk s ON s.grp = p.src_a OR s.grp = p.src_b
  GROUP BY 1, 2, 3),
bottom AS (
  SELECT * FROM (
    SELECT src_a, src_b, h, in_a, in_b,
           row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS r
    FROM m) WHERE r <= 64)
SELECT src_a, src_b,
       CAST(count(*) AS BIGINT) AS n_union,
       CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
       floor(CAST(sum(in_a * in_b) AS DOUBLE) / CAST(count(*) AS DOUBLE) * 1e6 + 1e-6) / 1e6 AS jaccard_est
FROM bottom GROUP BY 1, 2
"""


def _documents_as_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved text+media docs derived deterministically from documents:
    the text token-split at its midpoint into two text spans, threaded with
    two media spans whose refs are doc_id-keyed catalog entries (mod 50 /
    mod 29 — genuine cross-doc media reuse). Gives the multimodal near-dup
    operator a fixture whose TEXT similarity structure is the documents
    table's real near-dup structure."""
    from jsonschema_spark.operators.dedup import tokens

    d = _t(spark, sf_dir, "documents", hot=True).withColumn(
        "__toks", tokens(F.col("text"))
    )
    n = F.size("__toks")
    h = F.floor((n + F.lit(1)) / F.lit(2)).cast("int")
    t1 = F.concat_ws(" ", F.slice(F.col("__toks"), F.lit(1), h))
    t2 = F.concat_ws(
        " ", F.slice(F.col("__toks"), h + F.lit(1), F.greatest(n - h, F.lit(0)))
    )
    snull = F.lit(None).cast("string")

    def _span(kind, text, ref, off):
        return F.struct(
            F.lit(kind).alias("kind"),
            text.alias("text"),
            ref.alias("media_ref"),
            off.cast("int").alias("offset"),
        )

    img = F.concat(F.lit("media://img-"), (F.col("doc_id") % 50).cast("string"))
    vid = F.concat(F.lit("media://vid-"), (F.col("doc_id") % 29).cast("string"))
    spans = F.array(
        _span("text", t1, snull, F.lit(0)),
        _span("media", snull, img, h),
        _span("text", t2, snull, h),
        _span("media", snull, vid, n),
    )
    return d.select("doc_id", spans.alias("spans"))


def multimodal_near_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup candidates over INTERLEAVED docs: MinHash+LSH on
    the combined token set (t:-prefixed text shingles ∪ m:-prefixed media
    refs), so "duplicate" means same prose AND same attached media — two
    docs with identical captions around different images stay distinct,
    which flat-text dedup cannot express. Same banded bucket-join scale
    path as the flat-text LSH (no all-pairs product anywhere)."""
    from jsonschema_spark.operators.dedup import lsh_candidate_pairs, minhash_fold
    from jsonschema_spark.operators.spans import interleaved_token_set

    docs = _documents_as_interleaved(spark, sf_dir)
    sig = docs.select(
        F.col("doc_id").alias("id"),
        minhash_fold(interleaved_token_set("spans", shingle_n=3), 8).alias("sig"),
    )
    return lsh_candidate_pairs(sig, bands=4, rows_per_band=2)


def _oracle_multimodal_near_dup() -> str:
    """Replays the interleaved fixture (token-midpoint split + mod-keyed
    media refs), the per-span t:/m: token-set build, then the shared
    signature/band/pair pipeline via _oracle_lsh_pairs(sh_sql=...)."""
    sh_sql = r"""t AS (
  SELECT doc_id AS id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
  FROM documents),
halves AS (
  SELECT id, t, (len(t) + 1) // 2 AS h FROM t),
sp AS (
  SELECT id, 'text' AS kind, array_to_string(t[1:h], ' ') AS text, NULL AS media_ref FROM halves
  UNION ALL
  SELECT id, 'media', NULL, 'media://img-' || CAST(id % 50 AS VARCHAR) FROM halves
  UNION ALL
  SELECT id, 'text',
         CASE WHEN len(t) > h THEN array_to_string(t[h+1:len(t)], ' ') ELSE '' END,
         NULL
  FROM halves
  UNION ALL
  SELECT id, 'media', NULL, 'media://vid-' || CAST(id % 29 AS VARCHAR) FROM halves),
tok AS (
  SELECT id,
         CASE WHEN kind = 'text' AND len(trim(text)) > 0 THEN
              CASE WHEN len(string_split(text, ' ')) >= 3
                   THEN list_distinct(['t:' || array_to_string(string_split(text, ' ')[i:i+2], ' ')
                                       FOR i IN range(1, len(string_split(text, ' ')) - 1)])
                   ELSE ['t:' || text] END
              WHEN kind = 'media' AND media_ref IS NOT NULL THEN ['m:' || media_ref]
              ELSE [] END AS ts
  FROM sp),
sh AS (
  SELECT id, list_distinct(flatten(list(ts))) AS s FROM tok GROUP BY id)"""
    return _oracle_lsh_pairs(k=8, bands=4, rows_per_band=2, sh_sql=sh_sql)


def interleaved_pipeline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END interleaved curation: layout filter (min prose volume) ->
    multimodal MinHash-LSH near-dup (same prose AND same attached media) ->
    connected-component dedup (keep min-id) -> deterministic hash split.
    One lazy plan; each stage is the separately-oracled operator, composed
    the way a production multimodal corpus build runs them."""
    from jsonschema_spark.operators.dedup import (
        duplicate_clusters,
        lsh_candidate_pairs,
        minhash_fold,
    )
    from jsonschema_spark.operators.sampling import hash_split
    from jsonschema_spark.operators.spans import (
        interleaved_doc_filter,
        interleaved_token_set,
    )

    docs = _documents_as_interleaved(spark, sf_dir)
    flt = interleaved_doc_filter(
        docs, max_media=100, max_media_frac=1.0, min_text_chars=300
    )
    kept = docs.join(
        flt.filter(F.col("keep")).select("doc_id"), "doc_id", "left_semi"
    )
    sig = kept.select(
        F.col("doc_id").alias("id"),
        minhash_fold(interleaved_token_set("spans", shingle_n=3), 8).alias("sig"),
    )
    pairs = lsh_candidate_pairs(sig, bands=4, rows_per_band=2).filter(
        F.col("est_jaccard") >= 0.5
    )
    clusters = duplicate_clusters(pairs)
    drops = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias("doc_id")
    )
    survivors = kept.select("doc_id").join(drops, "doc_id", "left_anti")
    return hash_split(survivors, "doc_id", _SPLIT_FRACTIONS).select(
        "doc_id", "split"
    )


def _oracle_interleaved_pipeline(min_text_chars: int = 300, threshold: float = 0.5) -> str:
    """Replays the whole chain: fixture spans -> text-volume filter ->
    t:/m: token sets over SURVIVORS -> the shared LSH pair pipeline ->
    recursive-CTE components -> keep-min-id -> exact split thresholds."""
    from jsonschema_spark.operators.sampling import split_thresholds

    fixture = r"""t AS (
  SELECT doc_id AS id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
  FROM documents),
halves AS (
  SELECT id, t, (len(t) + 1) // 2 AS h FROM t),
sp AS (
  SELECT id, 'text' AS kind, array_to_string(t[1:h], ' ') AS text, NULL AS media_ref FROM halves
  UNION ALL
  SELECT id, 'media', NULL, 'media://img-' || CAST(id % 50 AS VARCHAR) FROM halves
  UNION ALL
  SELECT id, 'text',
         CASE WHEN len(t) > h THEN array_to_string(t[h+1:len(t)], ' ') ELSE '' END,
         NULL
  FROM halves
  UNION ALL
  SELECT id, 'media', NULL, 'media://vid-' || CAST(id % 29 AS VARCHAR) FROM halves),
kept AS (
  SELECT id FROM sp
  GROUP BY id
  HAVING sum(CASE WHEN kind = 'text' THEN length(coalesce(text, '')) ELSE 0 END) >= {mtc})"""

    sh_sql = fixture + r""",
tok AS (
  SELECT id,
         CASE WHEN kind = 'text' AND len(trim(text)) > 0 THEN
              CASE WHEN len(string_split(text, ' ')) >= 3
                   THEN list_distinct(['t:' || array_to_string(string_split(text, ' ')[i:i+2], ' ')
                                       FOR i IN range(1, len(string_split(text, ' ')) - 1)])
                   ELSE ['t:' || text] END
              WHEN kind = 'media' AND media_ref IS NOT NULL THEN ['m:' || media_ref]
              ELSE [] END AS ts
  FROM sp WHERE id IN (SELECT id FROM kept)),
sh AS (
  SELECT id, list_distinct(flatten(list(ts))) AS s FROM tok GROUP BY id)"""

    ths = split_thresholds(_SPLIT_FRACTIONS)
    case = " ".join(f"WHEN hf < {t!r} THEN '{n}'" for n, t in ths[:-1])
    pairs_sql = _oracle_lsh_pairs(
        k=8, bands=4, rows_per_band=2, sh_sql=sh_sql.format(mtc=min_text_chars)
    )
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs WHERE est_jaccard >= {threshold}
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs WHERE est_jaccard >= {threshold}),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach AS (
  SELECT id, id AS label FROM nodes
  UNION
  SELECT e.dst AS id, r.label FROM edges e JOIN reach r ON r.id = e.src),
clusters AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id),
{fixture.format(mtc=min_text_chars)},
survivors AS (
  SELECT id FROM kept
  WHERE id NOT IN (SELECT id FROM clusters WHERE id <> cluster_id)),
f AS (
  SELECT id AS doc_id,
         CAST(('0x' || substr(md5('split' || CAST(id AS VARCHAR)), 1, 15)) AS BIGINT)
           / POWER(2, 60) AS hf
  FROM survivors)
SELECT doc_id, CASE {case} ELSE '{ths[-1][0]}' END AS split FROM f
"""



def span_lang_mixture_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level language-mixture detection over interleaved docs: each
    doc carries its own text plus its successor doc's text as a second
    span, and 1-in-4 second spans get a German stopword prefix injected
    (the synthetic corpus is single-vocabulary, so mixture must be
    injected to be observable — deterministic, replayed by the oracle);
    the operator surfaces the mixture a doc-level lang-id argmaxes away."""
    from jsonschema_spark.operators.spans import span_lang_consistency

    d = _t(spark, sf_dir, "documents", hot=True)
    nxt = d.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("__text2")
    )
    snull = F.lit(None).cast("string")
    j = d.join(nxt, "doc_id", "left")
    spans = F.array(
        F.struct(
            F.lit("text").alias("kind"),
            F.col("text").alias("text"),
            snull.alias("media_ref"),
            F.lit(0).alias("offset"),
        ),
        F.struct(
            F.lit("text").alias("kind"),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(
                    F.lit("der die das und ist nicht ein eine "),
                    F.coalesce(F.col("__text2"), F.lit("")),
                ),
            )
            .otherwise(F.coalesce(F.col("__text2"), F.lit("")))
            .alias("text"),
            snull.alias("media_ref"),
            F.lit(1).alias("offset"),
        ),
    )
    return span_lang_consistency(j.select("doc_id", spans.alias("spans")))


def _oracle_span_lang_mixture() -> str:
    from jsonschema_spark.operators.text import STOPWORDS

    score = {
        lang: f"len(list_filter(toks, x -> x IN ({', '.join(repr(w) for w in words)})))"
        for lang, words in STOPWORDS.items()
    }
    best = f"greatest({', '.join(score.values())})"
    pred = "'und'"
    for lang in reversed(list(STOPWORDS)):
        pred = f"CASE WHEN {score[lang]} = best AND best > 0 THEN '{lang}' ELSE {pred} END"
    return f"""
WITH base AS (SELECT doc_id AS id, text FROM documents),
nxt AS (SELECT doc_id - 1 AS id, text AS text2 FROM documents),
sp AS (
  SELECT id, text FROM base
  UNION ALL
  SELECT b.id,
         CASE WHEN b.id % 4 = 0
              THEN 'der die das und ist nicht ein eine ' || coalesce(n.text2, '')
              ELSE coalesce(n.text2, '') END AS text
  FROM base b LEFT JOIN nxt n USING (id)),
t AS (
  SELECT id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM sp WHERE length(trim(text)) > 0),
sc AS (SELECT id, toks, {best} AS best FROM t),
p AS (SELECT id, {pred} AS pred FROM sc),
nt AS (SELECT id, count(*) AS n_text_spans FROM t GROUP BY id),
v AS (SELECT id, pred FROM p WHERE pred <> 'und'),
per AS (SELECT id, pred, count(*) AS c FROM v GROUP BY id, pred),
agg AS (
  SELECT id, sum(c) AS n_lang_spans, count(*) AS n_langs FROM per GROUP BY id),
maj AS (
  SELECT id, pred AS majority_lang FROM (
    SELECT id, pred, row_number() OVER (PARTITION BY id ORDER BY c DESC, pred DESC) AS rn
    FROM per) WHERE rn = 1)
SELECT d.doc_id,
       CAST(coalesce(nt.n_text_spans, 0) AS BIGINT) AS n_text_spans,
       CAST(coalesce(agg.n_lang_spans, 0) AS BIGINT) AS n_lang_spans,
       CAST(coalesce(agg.n_langs, 0) AS BIGINT) AS n_langs,
       maj.majority_lang,
       coalesce(agg.n_langs, 0) > 1 AS mixed
FROM documents d
LEFT JOIN nt ON nt.id = d.doc_id
LEFT JOIN agg ON agg.id = d.doc_id
LEFT JOIN maj ON maj.id = d.doc_id
"""



def temperature_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mT5/UL2-style temperature resampling on language (alpha=0.5,
    out_frac=0.5): tail languages are upweighted toward sqrt-proportional
    shares; targets derived from the data, no target dict."""
    from jsonschema_spark.operators.sampling import temperature_sample

    return temperature_sample(
        _t(spark, sf_dir, "documents"), "doc_id", "lang", alpha=0.5, out_frac=0.5
    )


ORACLE_TEMPERATURE_SAMPLE = """
WITH t AS (SELECT doc_id AS id, lang AS grp FROM documents),
c AS (SELECT grp, count(*) AS n_g, sqrt(CAST(count(*) AS DOUBLE)) AS t_g
      FROM t GROUP BY 1),
tot AS (SELECT sum(n_g) AS n_total, sum(t_g) AS t_sum FROM c),
plan AS (
  SELECT grp,
         least(CAST(1.0 AS DOUBLE),
               t_g / t_sum * (CAST(0.5 AS DOUBLE) * n_total) / n_g) AS frac
  FROM c, tot)
SELECT t.id, t.grp FROM t JOIN plan USING (grp)
WHERE CAST(('0x' || substr(md5('temp' || CAST(t.id AS VARCHAR)), 1, 15)) AS BIGINT)
        / POWER(2, 60)
      < plan.frac
"""


# ----- report-time outputs (reference result.go renderers) ------------------


def partition_verdicts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition pass/fail verdicts over the documents table (north rule;
    partition key doc_id % 8 so the oracle can reproduce the bucketing)."""
    from jsonschema_spark.plans.columns import validate_dataframe
    from jsonschema_spark.reporting import partition_verdicts

    v = validate_dataframe(_t(spark, sf_dir, "documents"), DOCS_TABLE_SCHEMA)
    return partition_verdicts(v, F.pmod(F.col("doc_id"), F.lit(8)))


ORACLE_PARTITION_VERDICTS = """
WITH v AS (
  SELECT doc_id,
         (lang IN ('en','de','fr','es') AND n_chars BETWEEN 60 AND 500
          AND length(text) >= 60 AND regexp_matches(text, '^[a-z ]+$')
          AND regexp_matches(source, '^src[0-9]+$')
          AND doc_id >= 0) AS valid
  FROM documents)
SELECT doc_id % 8 AS partition,
       count(*) AS doc_count,
       CAST(sum(CASE WHEN valid THEN 1 ELSE 0 END) AS BIGINT) AS valid_count,
       bool_and(valid) AS passed
FROM v GROUP BY 1 ORDER BY 1
"""


def localized_violations_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LocalizedDetailedErrors analogue: (doc_id, instance_path, code,
    message) with EN messages rendered JVM-side. Oracled: messages are
    deterministic functions of (code, params), so the SQL reproduces the
    rendered strings exactly."""
    from jsonschema_spark.plans.columns import validate_dataframe
    from jsonschema_spark.reporting import localized_output

    v = validate_dataframe(_t(spark, sf_dir, "documents"), DOCS_TABLE_SCHEMA)
    return localized_output(v, ["doc_id"])


ORACLE_LOCALIZED_DOCS = """
SELECT doc_id, '/lang' AS instance_path, 'value_not_in_enum' AS code,
       'got ' || lang || '; allowed values: en, de, fr, es' AS message
FROM documents WHERE lang NOT IN ('en','de','fr','es')
UNION ALL
SELECT doc_id, '/doc_id', 'value_below_minimum', doc_id || ' is under minimum 0'
FROM documents WHERE doc_id < 0
UNION ALL
SELECT doc_id, '/n_chars', 'value_below_minimum', n_chars || ' is under minimum 60'
FROM documents WHERE n_chars < 60
UNION ALL
SELECT doc_id, '/n_chars', 'value_above_maximum', n_chars || ' exceeds maximum 500'
FROM documents WHERE n_chars > 500
UNION ALL
SELECT doc_id, '/text', 'string_too_short', 'string length is under minLength 60'
FROM documents WHERE length(text) < 60
UNION ALL
SELECT doc_id, '/text', 'pattern_mismatch', 'string does not match pattern ^[a-z ]+$'
FROM documents WHERE NOT regexp_matches(text, '^[a-z ]+$')
UNION ALL
SELECT doc_id, '/source', 'pattern_mismatch', 'string does not match pattern ^src[0-9]+$'
FROM documents WHERE NOT regexp_matches(source, '^src[0-9]+$')
UNION ALL
SELECT doc_id, '',
       CASE WHEN len(bad) = 1 THEN 'property_mismatch' ELSE 'properties_mismatch' END,
       CASE WHEN len(bad) = 1 THEN 'property ' || bad[1] || ' fails its schema'
            ELSE 'properties ' || array_to_string(list_sort(bad), ', ') || ' fail their schemas' END
FROM (
  SELECT doc_id,
         [x FOR x IN [
            CASE WHEN doc_id < 0 THEN 'doc_id' END,
            CASE WHEN lang NOT IN ('en','de','fr','es') THEN 'lang' END,
            CASE WHEN n_chars < 60 OR n_chars > 500 THEN 'n_chars' END,
            CASE WHEN length(text) < 60 OR NOT regexp_matches(text, '^[a-z ]+$') THEN 'text' END,
            CASE WHEN NOT regexp_matches(source, '^src[0-9]+$') THEN 'source' END
         ] IF x IS NOT NULL] AS bad
  FROM documents)
WHERE len(bad) >= 1
"""


def variant_nested_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-JSON validation through the VARIANT fast path: objects, arrays
    (items/uniqueItems/minItems), enum, if/then — built deterministically
    from typed columns so the oracle can recompute validity relationally."""
    from jsonschema_spark.functions.udf import validate_json_column

    # hot=True: the cost is the Arrow-batched evaluator UDF — without the
    # bench-mode scan spread the single-row-group sf fixture runs the whole
    # interpreted projection on one task (measured 6.3s -> sub-second at
    # sf0.1; no-op in the driver gate and production, see _t)
    e = _t(spark, sf_dir, "events", hot=True).withColumn(
        "doc",
        F.to_json(
            F.struct(
                F.col("event_type").alias("t"),
                F.col("value").alias("v"),
                F.array(F.col("user_id"), F.col("event_id")).alias("ids"),
                F.struct(F.col("user_id").alias("u")).alias("meta"),
            )
        ),
    )
    schema = {
        "type": "object",
        "required": ["t", "ids", "meta"],
        "properties": {
            "t": {"enum": ["click", "view", "purchase", "signup"]},
            "v": {"type": "number", "minimum": 0.5},
            "ids": {
                "type": "array",
                "items": {"type": "integer", "minimum": 0},
                "minItems": 2,
                "uniqueItems": True,
            },
            "meta": {"type": "object", "required": ["u"], "properties": {"u": {"type": "integer"}}},
        },
        "if": {"properties": {"t": {"const": "purchase"}}, "required": ["t"]},
        "then": {"properties": {"v": {"minimum": 10}}},
    }
    out = validate_json_column(e, "doc", schema, assert_format=True)
    return out.select("event_id", "valid")


ORACLE_VARIANT_NESTED = """
SELECT event_id,
       (event_type IN ('click','view','purchase','signup')
        AND value >= 0.5
        AND user_id >= 0 AND event_id >= 0
        AND user_id != event_id
        AND (event_type != 'purchase' OR value >= 10)) AS valid
FROM events
"""


# ----- event-stream ops: sessionization + as-of attribution ----------------


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events stream (30-min gap): one row
    per (user, session) with event count, start/end micros, summed value.
    ONE exchange on user_id — the ordered window and the compound-key
    aggregate both cluster on the user key."""
    from jsonschema_spark.operators.sessions import sessionize

    e = _t(spark, sf_dir, "events")
    return sessionize(e, gap_seconds=1800, value_col="value")


ORACLE_SESSIONIZE = """
WITH staged AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events
),
marked AS (
  SELECT user_id, us, value,
         CASE WHEN lag(us) OVER w IS NULL
                OR us - lag(us) OVER w > 1800000000
              THEN 1 ELSE 0 END AS is_new,
         event_id
  FROM staged
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
sess AS (
  SELECT user_id, us, value,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_seq
  FROM marked
)
SELECT user_id, session_seq, count(*) AS n_events,
       min(us) AS start_us, max(us) AS end_us,
       round(sum(value), 6) AS total_value
FROM sess
GROUP BY user_id, session_seq
"""


def attribution_asof_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join inside the events stream: each click attributed to the
    user's most recent view at-or-before it (union-tag + ignorenulls-last
    window — no range join, single exchange on user_id)."""
    from jsonschema_spark.operators.sessions import asof_attribute

    e = _t(spark, sf_dir, "events")
    return asof_attribute(
        e, left_kind="click", right_kind="view"
    )


ORACLE_ASOF = """
WITH tagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_left,
         CASE WHEN event_type = 'view' THEN event_id END AS rid,
         CASE WHEN event_type = 'view' THEN epoch_us(ts) END AS rus
  FROM events WHERE event_type IN ('click', 'view')
),
carried AS (
  SELECT user_id, event_id, us, is_left,
         last_value(rid IGNORE NULLS) OVER w AS right_id,
         last_value(rus IGNORE NULLS) OVER w AS right_us
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY us, is_left, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id AS left_id, right_id, us - right_us AS gap_us
FROM carried WHERE is_left = 1
"""


def range_window_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval RANGE JOIN, bucketized (operators/rangejoin.py):
    ~0.5% of events (hash-picked) each open a 30-minute incident window;
    every event landing in a window is aggregated into it. The naive SQL
    shape is a nested-loop non-equi join; here intervals explode to the
    <=2 half-hour blocks they overlap and the join is an equi-join on
    block id + residual range filter — the point side is never amplified."""
    from jsonschema_spark.operators.rangejoin import range_join_points
    from jsonschema_spark.operators.sampling import hash_fraction

    e = _t(spark, sf_dir, "events")
    windows = e.filter(hash_fraction(F.col("event_id"), "win") < 0.005).select(
        F.col("event_id").alias("window_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"),
    )
    matched = range_join_points(
        e.select("ts", "value"),
        windows,
        ts_col="ts",
        start_col="start_ts",
        end_col="end_ts",
        bucket_seconds=1800,
    )
    agg = matched.groupBy("window_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )
    return windows.select("window_id").join(agg, "window_id", "left").select(
        "window_id",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
    )


ORACLE_RANGE_WINDOW_STATS = """
WITH w AS (
  SELECT event_id AS window_id, epoch_us(ts) AS s_us,
         epoch_us(ts) + 1800000000 AS e_us
  FROM events
  WHERE CAST(('0x' || substr(md5('win' || CAST(event_id AS VARCHAR)), 1, 15))
             AS BIGINT) / POWER(2, 60) < 0.005
),
p AS (SELECT epoch_us(ts) AS us, value FROM events)
SELECT w.window_id,
       count(p.us) AS n_events,
       round(coalesce(sum(p.value), 0), 6) AS total_value
FROM w LEFT JOIN p ON p.us >= w.s_us AND p.us < w.e_us
GROUP BY 1
"""


def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sampling WITHOUT replacement: 100 docs
    drawn with inclusion probability proportional to n_chars (length-biased
    curation draw). TakeOrdered physical plan, no RNG, no shuffle."""
    from jsonschema_spark.operators.sampling import weighted_sample_topk

    return weighted_sample_topk(
        _t(spark, sf_dir, "documents"), "doc_id", "n_chars", 100, salt="wsamp"
    )


ORACLE_WEIGHTED_SAMPLE = """
SELECT doc_id, n_chars FROM documents
WHERE CAST(n_chars AS DOUBLE) > 0
ORDER BY ln(CAST(('0x' || substr(md5('wsamp' || CAST(doc_id AS VARCHAR)), 1, 15))
                 AS BIGINT) / POWER(2, 60)) / CAST(n_chars AS DOUBLE) DESC,
         doc_id
LIMIT 100
"""


def key_candidates_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery over the orders table: exact distinct/NULL
    counts per column in ONE Expand-backed aggregation pass, flagging which
    columns are valid unique keys (operators/profile.key_candidates)."""
    from jsonschema_spark.operators.profile import key_candidates

    return key_candidates(_t(spark, sf_dir, "orders"))


_ORDERS_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)

ORACLE_KEY_CANDIDATES = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS col_name, count(*) AS n_rows,"
    f" count(DISTINCT {c}) AS n_distinct,"
    f" count(CASE WHEN {c} IS NULL THEN 1 END) AS n_null,"
    f" (count(DISTINCT {c}) = count(*)"
    f"  AND count(CASE WHEN {c} IS NULL THEN 1 END) = 0) AS is_key"
    f" FROM orders"
    for c in _ORDERS_COLS
)


# ----- interleaved-layout canonicalization, snapshot-diff incremental
# validation, and partition-skew diagnostics (operators/spans.py
# canonicalize_spans, operators/snapshot.py) --------------------------------

# Shared DuckDB CTE: the events-derived interleaved docs exploded to one
# row per span with the SAME canonical per-span encoding content_digest()
# uses (US/RS separators, DC1 NULL sentinel).
_SPAN_CANON_SQL = """
  SELECT user_id AS doc_id, ts, event_id,
         CASE WHEN event_type IN ('click','view') THEN 'text' ELSE 'media' END AS kind,
         CASE WHEN event_type IN ('click','view') THEN props END AS text,
         CASE WHEN event_type NOT IN ('click','view')
              THEN 'media://' || CAST(event_id AS VARCHAR) END AS media_ref,
         CAST(FLOOR(value) AS INT) AS off
  FROM events
"""

_HF_SQL = (
    "CAST(('0x' || substr(md5('{salt}' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    " / POWER(2, 60)"
)


def pmi_collocations_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k adjacent-token collocations by PMI likelihood ratio — phrase
    detection / tokenizer-merge mining over the documents corpus. The ratio
    (not its log) is emitted so the oracle contract has no libm ln()
    divergence; deterministic (ratio DESC, w1, w2) cut."""
    from jsonschema_spark.operators.text import pmi_collocations

    return pmi_collocations(
        _t(spark, sf_dir, "documents"), "text", min_count=5, top_k=50
    )


ORACLE_PMI_COLLOCATIONS = """
WITH toks AS (
  SELECT string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents),
uni AS (
  SELECT w, count(*) AS c_w FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
bi AS (
  SELECT w1, w2, count(*) AS c_pair FROM (
    SELECT t[i] AS w1, t[i+1] AS w2
    FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i))
  GROUP BY w1, w2 HAVING count(*) >= 5),
nu AS (SELECT CAST(sum(c_w) AS BIGINT) AS nu FROM uni),
nb AS (SELECT CAST(sum(greatest(len(t) - 1, 0)) AS BIGINT) AS nb FROM toks)
SELECT w1, w2, c_pair, u1.c_w AS c_w1, u2.c_w AS c_w2,
       floor(CAST(c_pair AS DOUBLE) * CAST(nu AS DOUBLE) * CAST(nu AS DOUBLE)
             / (CAST(u1.c_w AS DOUBLE) * CAST(u2.c_w AS DOUBLE) * CAST(nb AS DOUBLE))
             * 1000000.0 + 0.000001) / 1000000.0 AS pmi_ratio
FROM bi JOIN uni u1 ON u1.w = bi.w1 JOIN uni u2 ON u2.w = bi.w2, nu, nb
ORDER BY pmi_ratio DESC, w1, w2 LIMIT 50
"""



def corpus_health_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-stop corpus health report: a tall (metric, value) relation
    combining the screens a pipeline gate reads before training — volume,
    exact-dup rate, empty-text rate, token volume, language concentration,
    Gopher keep rate. Each metric reuses the corresponding operator's
    machinery (normalize_text dup keys, tokens(), gopher_quality) so this
    is a composition, not a re-implementation; every rate is snapped to
    the 1e-6 grid. Four bounded aggregations over the docs table -> six
    rows."""
    from jsonschema_spark.operators.dedup import normalize_text, tokens
    from jsonschema_spark.operators.heuristics import gopher_quality

    d = _t(spark, sf_dir, "documents", hot=True)
    snap = lambda c: F.floor(c * F.lit(1000000.0) + F.lit(0.000001)) / F.lit(1000000.0)

    base = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(F.md5(normalize_text(F.col("text")))).alias("nd"),
        F.sum(
            F.when(
                F.col("text").isNull() | (F.length(F.trim("text")) == 0), 1
            ).otherwise(0)
        ).alias("ne"),
        F.sum(F.size(tokens(F.col("text")))).alias("toks"),
    )
    m_base = base.select(
        F.explode(
            F.array(
                F.struct(F.lit("n_docs").alias("metric"), F.col("n").cast("double").alias("value")),
                F.struct(F.lit("dup_rate").alias("metric"),
                         snap(F.lit(1.0) - F.col("nd").cast("double") / F.col("n")).alias("value")),
                F.struct(F.lit("empty_text_rate").alias("metric"),
                         snap(F.col("ne").cast("double") / F.col("n")).alias("value")),
                F.struct(F.lit("avg_tokens_per_doc").alias("metric"),
                         snap(F.col("toks").cast("double") / F.col("n")).alias("value")),
            )
        ).alias("m")
    ).select("m.metric", "m.value")

    lang = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("mc"), F.sum("c").alias("tot"))
        .select(
            F.lit("lang_top_share").alias("metric"),
            snap(F.col("mc").cast("double") / F.col("tot")).alias("value"),
        )
    )
    gk = (
        gopher_quality(d, "doc_id", "text")
        .agg(
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("k"),
            F.sum(
                F.when(
                    (F.col("n_words") >= 50) & (F.col("n_words") <= 100000), 1
                ).otherwise(0)
            ).alias("wc"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("gopher_keep_rate").alias("metric"),
                        snap(F.col("k").cast("double") / F.col("n")).alias("value"),
                    ),
                    F.struct(
                        F.lit("wordcount_pass_rate").alias("metric"),
                        snap(F.col("wc").cast("double") / F.col("n")).alias("value"),
                    ),
                )
            ).alias("m")
        )
        .select("m.metric", "m.value")
    )
    return m_base.unionByName(lang).unionByName(gk)


def _oracle_corpus_health() -> str:
    return f"""
WITH base AS (
  SELECT count(*) AS n,
         count(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS nd,
         sum(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 1 ELSE 0 END) AS ne,
         sum(len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))) AS toks
  FROM documents),
lang AS (
  SELECT max(c) AS mc, sum(c) AS tot
  FROM (SELECT count(*) AS c FROM documents GROUP BY lang)),
raw AS (SELECT doc_id AS id, text FROM documents),
{{gopher_chain}}
gk AS (
  SELECT sum(CASE WHEN keep THEN 1 ELSE 0 END) AS k,
         sum(CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END) AS wc,
         count(*) AS n
  FROM gop_m)
SELECT 'n_docs' AS metric, CAST(n AS DOUBLE) AS value FROM base
UNION ALL
SELECT 'dup_rate', floor((1.0 - CAST(nd AS DOUBLE) / n) * 1000000.0 + 0.000001) / 1000000.0 FROM base
UNION ALL
SELECT 'empty_text_rate', floor(CAST(ne AS DOUBLE) / n * 1000000.0 + 0.000001) / 1000000.0 FROM base
UNION ALL
SELECT 'avg_tokens_per_doc', floor(CAST(toks AS DOUBLE) / n * 1000000.0 + 0.000001) / 1000000.0 FROM base
UNION ALL
SELECT 'lang_top_share', floor(CAST(mc AS DOUBLE) / tot * 1000000.0 + 0.000001) / 1000000.0 FROM lang
UNION ALL
SELECT 'gopher_keep_rate', floor(CAST(k AS DOUBLE) / n * 1000000.0 + 0.000001) / 1000000.0 FROM gk
UNION ALL
SELECT 'wordcount_pass_rate', floor(CAST(wc AS DOUBLE) / n * 1000000.0 + 0.000001) / 1000000.0 FROM gk
""".format(gopher_chain=_gopher_sql_chain('raw') + ',')



def centroid_drift_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift between label cohorts: pairwise centroid
    cosine — catches topic-mix shift the scalar drift family (KS/PSI on
    lengths and kinds) cannot see."""
    from jsonschema_spark.operators.drift import embedding_centroid_drift

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_centroid_drift(emb, "embedding", "label")


ORACLE_CENTROID_DRIFT = """
WITH ex AS (
  SELECT label AS cohort,
         generate_subscripts(e, 1) AS i,
         CAST(unnest(e) AS DOUBLE) AS v
  FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)),
sums AS (
  SELECT cohort, i, sum(v) AS s, count(v) AS c FROM ex GROUP BY cohort, i),
means AS (
  SELECT cohort, list(s / c ORDER BY i) AS m, max(c) AS n
  FROM sums GROUP BY cohort)
SELECT a.cohort AS cohort_a, b.cohort AS cohort_b, a.n AS n_a, b.n AS n_b,
       floor(list_dot_product(a.m, b.m)
             / (sqrt(list_dot_product(a.m, a.m)) * sqrt(list_dot_product(b.m, b.m)))
             * 1000000.0 + 0.000001) / 1000000.0 AS centroid_cosine
FROM means a JOIN means b ON a.cohort < b.cohort
"""



def consistency_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored-vs-recomputed derived-column check: documents.n_chars must
    equal length(text). The fixture stales 1-in-7 stored counts (+1) so
    the check is non-vacuous; output is the violation relation
    (doc_id, column, stored, recomputed)."""
    from jsonschema_spark.operators.stats import derived_column_violations

    d = _t(spark, sf_dir, "documents")
    staled = d.withColumn(
        "n_chars",
        F.when(F.col("doc_id") % 7 == 0, F.col("n_chars") + 1).otherwise(
            F.col("n_chars")
        ),
    )
    return derived_column_violations(
        staled, {"n_chars": F.length("text").cast("bigint")}
    )


ORACLE_CONSISTENCY = """
WITH staled AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN n_chars + 1 ELSE n_chars END AS n_chars,
         length(text) AS actual
  FROM documents)
SELECT doc_id, 'n_chars' AS "column",
       CAST(n_chars AS VARCHAR) AS stored,
       CAST(actual AS VARCHAR) AS recomputed
FROM staled
WHERE n_chars IS DISTINCT FROM actual
"""



def snapshot_churn_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot churn: (n_added, n_removed, n_changed,
    n_unchanged) from content digests — the per-commit table-history
    readout; shares its manifest artifact with incremental validation.
    Base manifest derived deterministically: 60% of docs 'already seen',
    15% of those with a perturbed stored digest, plus 20% phantom ids
    (docs since deleted) so every counter is non-vacuous at sf0.001's
    15-doc events corpus."""
    from jsonschema_spark.operators.sampling import hash_fraction
    from jsonschema_spark.operators.snapshot import (
        content_digest,
        snapshot_churn_stats,
    )

    cur = _events_as_spans(spark, sf_dir)
    dig = content_digest(F.col("spans"))
    seen = cur.filter(hash_fraction(F.col("doc_id"), "snap") < 0.6).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.when(
            hash_fraction(F.col("doc_id"), "mod") < 0.15,
            F.md5(F.concat(dig, F.lit("stale"))),
        )
        .otherwise(dig)
        .alias("digest"),
    )
    phantoms = cur.filter(hash_fraction(F.col("doc_id"), "gone") < 0.2).select(
        F.concat(F.lit("gone-"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.md5(F.col("doc_id").cast("string")).alias("digest"),
    )
    base = seen.unionByName(phantoms)
    return snapshot_churn_stats(
        cur.withColumn("doc_id", F.col("doc_id").cast("string")), base
    )



def interleaved_filter_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OBELICS-style layout rules over the interleaved docs: bound media
    count, media fraction, and minimum prose volume; per-rule columns +
    composite keep (thresholds 40 / 0.6 / 250 straddle the corpus ranges,
    so every rule and both keep outcomes occur)."""
    from jsonschema_spark.operators.spans import interleaved_doc_filter

    return interleaved_doc_filter(
        _events_as_spans(spark, sf_dir),
        max_media=40,
        max_media_frac=0.6,
        min_text_chars=250,
    )


ORACLE_INTERLEAVED_FILTER = """
WITH d AS (
  SELECT user_id AS doc_id,
         count(*) AS n_spans,
         sum(CASE WHEN event_type NOT IN ('click','view') THEN 1 ELSE 0 END) AS n_media,
         sum(CASE WHEN event_type IN ('click','view')
                  THEN length(coalesce(props, '')) ELSE 0 END) AS text_chars
  FROM events GROUP BY user_id),
f AS (
  SELECT doc_id, n_spans, n_media, text_chars,
         CASE WHEN n_spans > 0
              THEN floor(CAST(n_media AS DOUBLE) / n_spans * 1e6 + 1e-6) / 1e6
              ELSE 0.0 END AS media_frac
  FROM d)
SELECT doc_id,
       CAST(n_spans AS BIGINT) AS n_spans,
       CAST(n_media AS BIGINT) AS n_media,
       CAST(text_chars AS BIGINT) AS text_chars,
       media_frac,
       n_media > 40 AS r_too_many_media,
       media_frac > 0.6 AS r_media_heavy,
       text_chars < 250 AS r_too_little_text,
       (NOT n_media > 40 AND NOT media_frac > 0.6 AND NOT text_chars < 250) AS keep
FROM f
"""



def media_context_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMC4/OBELICS-style image-text pairing over the interleaved layout:
    one row per media span with the nearest non-null text span on each
    side — the caption-mining primitive a flat (images, text) table cannot
    express because it loses document order."""
    from jsonschema_spark.operators.spans import media_context_pairs

    return media_context_pairs(_events_as_spans(spark, sf_dir))


ORACLE_MEDIA_CONTEXT = f"""
WITH s AS ({_SPAN_CANON_SQL}),
o AS (
  SELECT doc_id, kind, media_ref,
         CAST(row_number() OVER w_ord AS INT) AS pos,
         last_value(CASE WHEN kind = 'text' AND text IS NOT NULL THEN text END IGNORE NULLS)
           OVER (PARTITION BY doc_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS text_before,
         first_value(CASE WHEN kind = 'text' AND text IS NOT NULL THEN text END IGNORE NULLS)
           OVER (PARTITION BY doc_id ORDER BY ts, event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS text_after
  FROM s
  WINDOW w_ord AS (PARTITION BY doc_id ORDER BY ts, event_id))
SELECT doc_id, media_ref, pos, text_before, text_after FROM o WHERE kind = 'media'
"""


def media_usage_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide media usage + over-use flags (the OBELICS rule: an image
    recurring across many documents is a logo/banner, not content). The
    events-derived refs are unique by construction, so the fixture folds
    them onto 211 recurring refs (event_id % 211) — deterministically, in
    both engines — so the distinct-doc counting is non-vacuous."""
    from jsonschema_spark.operators.spans import media_ref_stats

    docs = _events_as_spans(spark, sf_dir)
    folded = docs.withColumn(
        "spans",
        F.transform(
            "spans",
            lambda sp: F.struct(
                sp["kind"].alias("kind"),
                sp["text"].alias("text"),
                F.when(
                    sp["kind"] == F.lit("media"),
                    F.concat(
                        F.lit("media://"),
                        (
                            F.substring_index(sp["media_ref"], "//", -1).cast("bigint")
                            % F.lit(211)
                        ).cast("string"),
                    ),
                ).alias("media_ref"),
                sp["offset"].alias("offset"),
            ),
        ),
    )
    return media_ref_stats(folded, max_docs=3)


ORACLE_MEDIA_USAGE = """
WITH m AS (
  SELECT user_id AS doc_id,
         'media://' || CAST(event_id % 211 AS VARCHAR) AS media_ref
  FROM events WHERE event_type NOT IN ('click','view')),
per_doc AS (
  SELECT media_ref, doc_id, count(*) AS occ FROM m GROUP BY media_ref, doc_id)
SELECT media_ref,
       count(*) AS n_docs,
       CAST(sum(occ) AS BIGINT) AS n_occurrences,
       count(*) > 3 AS flagged
FROM per_doc GROUP BY media_ref
"""



def canonical_spans_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical interleaved layout: merge adjacent text-span runs, keep
    media spans atomic, rebuild offsets as the linearized position — the
    normalization two different extractions of the same doc must agree
    under before span-sequence equality means anything. The md5 canonical
    digest pins the ENTIRE rebuilt sequence (kinds, merged texts, refs,
    offsets, order) cross-engine."""
    from jsonschema_spark.operators.snapshot import content_digest
    from jsonschema_spark.operators.spans import canonicalize_spans

    cur = _events_as_spans(spark, sf_dir)
    pre = cur.select("doc_id", F.size("spans").alias("n_before"), "spans")
    canon = canonicalize_spans(pre)
    return canon.select(
        "doc_id",
        "n_before",
        F.size("spans").alias("n_after"),
        content_digest("spans").alias("canon_digest"),
    )


ORACLE_CANONICAL_SPANS = f"""
WITH s AS ({_SPAN_CANON_SQL}),
w AS (
  SELECT *, lag(kind) OVER (PARTITION BY doc_id ORDER BY ts, event_id) AS prev
  FROM s),
r AS (
  SELECT *, sum(CASE WHEN kind = 'media' OR prev IS NULL OR prev = 'media'
                     THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS run_id
  FROM w),
runs AS (
  SELECT doc_id, run_id, max(kind) AS kind,
         CASE WHEN max(kind) = 'text'
              THEN string_agg(text, ' ' ORDER BY ts, event_id) END AS text,
         CASE WHEN max(kind) = 'media' THEN max(media_ref) END AS media_ref
  FROM r GROUP BY doc_id, run_id),
costs AS (
  SELECT *, CASE WHEN kind = 'media' THEN 1 ELSE length(text) + 1 END AS cost
  FROM runs),
offs AS (
  SELECT *, CAST(COALESCE(sum(cost) OVER (PARTITION BY doc_id ORDER BY run_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS off
  FROM costs),
canon AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n_after,
         md5(string_agg(
           coalesce(kind, chr(17)) || chr(31) || coalesce(text, chr(17)) || chr(31)
           || coalesce(media_ref, chr(17)) || chr(31) || CAST(off AS VARCHAR),
           chr(30) ORDER BY run_id)) AS canon_digest
  FROM offs GROUP BY doc_id),
pre AS (SELECT user_id AS doc_id, CAST(count(*) AS INT) AS n_before
        FROM events GROUP BY user_id)
SELECT p.doc_id, p.n_before, c.n_after, c.canon_digest
FROM pre p JOIN canon c USING (doc_id)
"""


def incremental_validate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff incremental validation: only docs that are new or whose
    content digest changed since the base manifest re-run the constraint
    plan; unchanged docs reuse the STORED verdict (proven by the oracle:
    the stored bit is an arbitrary hash fraction, not the recomputable
    predicate). The base manifest is derived deterministically from the
    same corpus — 90% of docs are 'already seen', 15% of those have a
    perturbed stored digest (simulating rewritten content)."""
    from jsonschema_spark.operators.sampling import hash_fraction
    from jsonschema_spark.operators.snapshot import (
        content_digest,
        snapshot_diff_validate,
    )

    cur = _events_as_spans(spark, sf_dir)
    dig = content_digest(F.col("spans"))
    base = cur.filter(hash_fraction(F.col("doc_id"), "snap") < 0.9).select(
        "doc_id",
        F.when(
            hash_fraction(F.col("doc_id"), "mod") < 0.15,
            F.md5(F.concat(dig, F.lit("stale"))),
        )
        .otherwise(dig)
        .alias("digest"),
        (hash_fraction(F.col("doc_id"), "v") < 0.5).alias("valid"),
    )
    offs = F.transform("spans", lambda s: s["offset"])
    # non-decreasing offsets <=> equal to the ascending sorted copy
    # (total-ordered non-null ints) — the re-validation predicate.
    mono = offs == F.array_sort(offs)
    return snapshot_diff_validate(cur, base, mono)


ORACLE_SNAPSHOT_CHURN = f"""
WITH s AS ({_SPAN_CANON_SQL}),
docs AS (
  SELECT doc_id,
         md5(string_agg(
           coalesce(kind, chr(17)) || chr(31) || coalesce(text, chr(17)) || chr(31)
           || coalesce(media_ref, chr(17)) || chr(31) || CAST(off AS VARCHAR),
           chr(30) ORDER BY ts, event_id)) AS digest
  FROM s GROUP BY doc_id),
hf AS (
  SELECT doc_id, digest,
         {_HF_SQL.format(salt='snap')} AS hf_snap,
         {_HF_SQL.format(salt='mod')} AS hf_mod,
         {_HF_SQL.format(salt='gone')} AS hf_gone
  FROM docs),
seen AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         CASE WHEN hf_mod < 0.15 THEN md5(digest || 'stale') ELSE digest END AS base_dig
  FROM hf WHERE hf_snap < 0.6),
phantoms AS (
  SELECT 'gone-' || CAST(doc_id AS VARCHAR) AS doc_id,
         md5(CAST(doc_id AS VARCHAR)) AS base_dig
  FROM hf WHERE hf_gone < 0.2),
base AS (SELECT * FROM seen UNION ALL SELECT * FROM phantoms),
cur AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, digest AS cur_dig FROM docs),
j AS (
  SELECT cur.cur_dig, base.base_dig
  FROM cur FULL OUTER JOIN base ON base.doc_id = cur.doc_id)
SELECT
  CAST(coalesce(sum(CASE WHEN base_dig IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_added,
  CAST(coalesce(sum(CASE WHEN cur_dig IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_removed,
  CAST(coalesce(sum(CASE WHEN cur_dig IS NOT NULL AND base_dig IS NOT NULL
                 AND cur_dig <> base_dig THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_changed,
  CAST(coalesce(sum(CASE WHEN cur_dig = base_dig THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_unchanged
FROM j
"""


ORACLE_INCREMENTAL_VALIDATE = f"""
WITH s AS ({_SPAN_CANON_SQL}),
w AS (
  SELECT *, lag(off) OVER (PARTITION BY doc_id ORDER BY ts, event_id) AS prev_off
  FROM s),
docs AS (
  SELECT doc_id,
         md5(string_agg(
           coalesce(kind, chr(17)) || chr(31) || coalesce(text, chr(17)) || chr(31)
           || coalesce(media_ref, chr(17)) || chr(31) || CAST(off AS VARCHAR),
           chr(30) ORDER BY ts, event_id)) AS digest,
         bool_and(coalesce(off >= prev_off, TRUE)) AS mono
  FROM w GROUP BY doc_id),
hf AS (
  SELECT doc_id, digest, mono,
         {_HF_SQL.format(salt='snap')} AS hf_snap,
         {_HF_SQL.format(salt='mod')} AS hf_mod,
         {_HF_SQL.format(salt='v')} AS hf_v
  FROM docs)
SELECT doc_id, digest,
       CASE WHEN hf_snap >= 0.9 THEN 'new'
            WHEN hf_mod >= 0.15 THEN 'unchanged'
            ELSE 'changed' END AS status,
       CASE WHEN hf_snap >= 0.9 THEN mono
            WHEN hf_mod >= 0.15 THEN (hf_v < 0.5)
            ELSE mono END AS valid
FROM hf
"""


def skew_buckets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hash-bucket load report over the interleaved docs — the
    measurement behind the north rule's 'salted repartition to defuse
    media-heavy skew': doc counts, span counts, and text payload bytes per
    bucket diverge exactly when media-heavy docs cluster."""
    from jsonschema_spark.operators.snapshot import bucket_skew_stats

    return bucket_skew_stats(_events_as_spans(spark, sf_dir), n_buckets=32)


ORACLE_SKEW_BUCKETS = """
WITH d AS (
  SELECT user_id AS doc_id, count(*) AS n_spans,
         sum(CASE WHEN event_type IN ('click','view')
                  THEN length(props) ELSE 0 END) AS text_bytes
  FROM events GROUP BY user_id),
b AS (
  SELECT CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
              % 32 AS INT) AS bucket,
         count(*) AS n_docs, sum(n_spans) AS n_spans, sum(text_bytes) AS text_bytes
  FROM d GROUP BY 1),
all_b AS (SELECT CAST(range AS INT) AS bucket FROM range(32)),
f AS (
  SELECT a.bucket, coalesce(b.n_docs, 0) AS n_docs,
         coalesce(b.n_spans, 0) AS n_spans,
         coalesce(b.text_bytes, 0) AS text_bytes
  FROM all_b a LEFT JOIN b USING (bucket)),
t AS (SELECT sum(n_docs) AS td, sum(n_spans) AS tsp FROM f)
SELECT f.bucket, CAST(f.n_docs AS BIGINT) AS n_docs,
       CAST(f.n_spans AS BIGINT) AS n_spans,
       CAST(f.text_bytes AS BIGINT) AS text_bytes,
       floor(CAST(f.n_docs AS DOUBLE) / greatest(t.td, 1) * 1e6 + 1e-6) / 1e6 AS doc_share,
       floor(CAST(f.n_spans AS DOUBLE) / greatest(t.tsp, 1) * 1e6 + 1e-6) / 1e6 AS span_share
FROM f, t
"""


def time_bucket_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable rollup with gap-fill (operators/timeseries.py): events
    bucketed to 6-hour windows per event_type, every (type, bucket) in the
    observed range emitted even when empty. One full-data exchange (the
    groupBy); the fill spine derives from the aggregated output and
    broadcasts into the left join."""
    from jsonschema_spark.operators.timeseries import time_bucket_rollup

    return time_bucket_rollup(
        _t(spark, sf_dir, "events"), bucket_seconds=21600, gap_fill=True
    )


ORACLE_TIME_BUCKET_ROLLUP = """
WITH agg AS (
  SELECT event_type AS key, epoch_us(ts) // 21600000000 AS bucket,
         count(*) AS n_events, round(sum(value), 6) AS total_value
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT min(bucket) AS mn, max(bucket) AS mx FROM agg),
spine AS (
  SELECT k.key, unnest(generate_series(bounds.mn, bounds.mx)) AS bucket
  FROM (SELECT DISTINCT key FROM agg) k, bounds
)
SELECT spine.key AS event_type,
       spine.bucket * 21600 AS bucket_start_s,
       coalesce(agg.n_events, 0) AS n_events,
       coalesce(agg.total_value, 0) AS total_value
FROM spine LEFT JOIN agg ON spine.key = agg.key AND spine.bucket = agg.bucket
"""


def funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase (operators/timeseries.py):
    users completing each prefix in strict time order, earliest-completion
    matching. One exchange on user_id — chained unordered per-user window
    minima, then a user-level groupBy that reuses the partitioning."""
    from jsonschema_spark.operators.timeseries import funnel_steps

    return funnel_steps(
        _t(spark, sf_dir, "events"), ["view", "click", "purchase"]
    )


ORACLE_FUNNEL = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
),
w1 AS (
  SELECT *, min(CASE WHEN event_type = 'view' THEN us END)
              OVER (PARTITION BY user_id) AS s1 FROM e),
w2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND us > s1 THEN us END)
              OVER (PARTITION BY user_id) AS s2 FROM w1),
w3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND us > s2 THEN us END)
              OVER (PARTITION BY user_id) AS s3 FROM w2),
per AS (
  SELECT user_id, max(s1) AS s1, max(s2) AS s2, max(s3) AS s3
  FROM w3 GROUP BY user_id)
SELECT step_idx, step_name, users_reached FROM (
  SELECT 1 AS step_idx, 'view' AS step_name, count(s1) AS users_reached FROM per
  UNION ALL
  SELECT 2, 'click', count(s2) FROM per
  UNION ALL
  SELECT 3, 'purchase', count(s3) FROM per
) ORDER BY step_idx
"""


def retention_cohorts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle (operators/timeseries.py): users cohorted
    by epoch-week of first event; distinct active users per (cohort,
    week-offset). First-touch aggregate and the join back share the
    user_id partitioning."""
    from jsonschema_spark.operators.timeseries import retention_cohorts

    return retention_cohorts(_t(spark, sf_dir, "events"))


ORACLE_RETENTION = """
WITH s AS (SELECT user_id, epoch_us(ts) AS us FROM events),
f AS (
  SELECT user_id, min(us) - min(us) % 604800000000 AS first_week_us
  FROM s GROUP BY user_id),
j AS (
  SELECT s.user_id, f.first_week_us,
         (s.us - s.us % 604800000000 - f.first_week_us) // 604800000000
           AS week_offset
  FROM s JOIN f USING (user_id))
SELECT first_week_us // 1000000 AS cohort_week_start_s, week_offset,
       count(DISTINCT user_id) AS n_users
FROM j GROUP BY 1, 2
"""


def rolling_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window volume anomalies (operators/timeseries.py): per
    (event_type, 6h bucket), z-score of the bucket's event count against
    the 8 preceding buckets; |z| > 2 flags. Exact-int window sums keep the
    mean/variance bit-identical across engines."""
    from jsonschema_spark.operators.timeseries import rolling_anomalies

    return rolling_anomalies(
        _t(spark, sf_dir, "events"),
        bucket_seconds=21600,
        window=8,
        z_thresh=2.0,
    )


ORACLE_ROLLING_ANOMALY = """
WITH agg AS (
  SELECT event_type AS key, epoch_us(ts) // 21600000000 AS bucket,
         count(*) AS n FROM events GROUP BY 1, 2
),
bounds AS (SELECT min(bucket) AS mn, max(bucket) AS mx FROM agg),
spine AS (
  SELECT k.key, unnest(generate_series(bounds.mn, bounds.mx)) AS bucket
  FROM (SELECT DISTINCT key FROM agg) k, bounds
),
filled AS (
  SELECT spine.key, spine.bucket, coalesce(agg.n, 0) AS n
  FROM spine LEFT JOIN agg ON spine.key = agg.key AND spine.bucket = agg.bucket
),
w AS (
  SELECT key, bucket, n,
         count(*) OVER win AS wn,
         sum(n)   OVER win AS ws,
         sum(n*n) OVER win AS wsq
  FROM filled
  WINDOW win AS (PARTITION BY key ORDER BY bucket
                 ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)
),
d AS (
  SELECT key, bucket, n,
         CAST(ws AS DOUBLE) / CAST(wn AS DOUBLE) AS mean,
         (CAST(wsq AS DOUBLE)
          - CAST(ws AS DOUBLE) * CAST(ws AS DOUBLE) / CAST(wn AS DOUBLE))
           / (CAST(wn AS DOUBLE) - 1.0) AS var
  FROM w WHERE wn >= 2
),
z AS (
  SELECT key, bucket, n, mean,
         CASE WHEN var > 0 THEN
           floor((CAST(n AS DOUBLE) - mean) / sqrt(var) * 1e6 + 1e-6) / 1e6
         END AS z
  FROM d
)
SELECT key AS event_type, bucket * 21600 AS bucket_start_s,
       n AS n_events,
       floor(mean * 1e6 + 1e-6) / 1e6 AS window_mean, z
FROM z WHERE z IS NOT NULL AND abs(z) > 2.0
"""


def cusum_changepoints_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM level-shift alarms (operators/timeseries.py) on
    6h-bucketed per-type event counts, slack 0.25σ / threshold 2σ. The
    per-key fold is a bounded JVM higher-order aggregate; the oracle
    replays the identical recursion as a recursive CTE."""
    from jsonschema_spark.operators.timeseries import cusum_changepoints

    return cusum_changepoints(
        _t(spark, sf_dir, "events"),
        bucket_seconds=21600,
        slack=0.25,
        threshold=2.0,
    )


ORACLE_CUSUM = """
WITH RECURSIVE agg AS (
  SELECT event_type AS key, epoch_us(ts) // 21600000000 AS bucket,
         count(*) AS n FROM events GROUP BY 1, 2
),
bounds AS (SELECT min(bucket) AS mn, max(bucket) AS mx FROM agg),
spine AS (
  SELECT k.key, unnest(generate_series(bounds.mn, bounds.mx)) AS bucket
  FROM (SELECT DISTINCT key FROM agg) k, bounds
),
filled AS (
  SELECT spine.key, spine.bucket, CAST(coalesce(agg.n, 0) AS BIGINT) AS n
  FROM spine LEFT JOIN agg ON spine.key = agg.key AND spine.bucket = agg.bucket
),
params AS (
  SELECT key,
         CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu,
         sqrt(greatest(0.0,
           CAST(sum(n*n) AS DOUBLE) / CAST(count(*) AS DOUBLE)
           - (CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE))
             * (CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE)))) AS sigma
  FROM filled GROUP BY key
),
ord AS (
  SELECT key, bucket, n,
         row_number() OVER (PARTITION BY key ORDER BY bucket) AS rn
  FROM filled
),
r AS (
  SELECT o.key, o.rn, o.bucket, o.n, p.mu, 0.25 * p.sigma AS k,
         greatest(0.0, 0.0 + (CAST(o.n AS DOUBLE) - p.mu - 0.25 * p.sigma)) AS sp,
         greatest(0.0, 0.0 + (p.mu - CAST(o.n AS DOUBLE) - 0.25 * p.sigma)) AS sn
  FROM ord o JOIN params p USING (key) WHERE o.rn = 1
  UNION ALL
  SELECT o.key, o.rn, o.bucket, o.n, r.mu, r.k,
         greatest(0.0, r.sp + (CAST(o.n AS DOUBLE) - r.mu - r.k)),
         greatest(0.0, r.sn + (r.mu - CAST(o.n AS DOUBLE) - r.k))
  FROM ord o JOIN r ON o.key = r.key AND o.rn = r.rn + 1
)
SELECT r.key AS event_type, r.bucket * 21600 AS bucket_start_s,
       r.n AS n_events,
       floor(r.sp * 1e6 + 1e-6) / 1e6 AS cusum_pos,
       floor(r.sn * 1e6 + 1e-6) / 1e6 AS cusum_neg,
       CASE WHEN r.sp >= r.sn THEN 'up' ELSE 'down' END AS direction
FROM r JOIN params p ON r.key = p.key
WHERE p.sigma > 0 AND (r.sp > 2.0 * p.sigma OR r.sn > 2.0 * p.sigma)
"""


_BM25_TERMS = ["spark", "window", "customer"]


def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 (operators/search.py) for a 3-term keyword query:
    explode-free array-filter term frequencies, ONE map-side-combining
    corpus-stats aggregate broadcast back, TakeOrdered top-k — zero
    full-data shuffles at any corpus size."""
    from jsonschema_spark.operators.search import bm25_topk

    return bm25_topk(_t(spark, sf_dir, "documents"), _BM25_TERMS, top_k=10)


def _oracle_bm25(terms: list[str], top_k: int, depth_rank: bool = False) -> str:
    tf_cols = ",\n         ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n         ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(terms))
    )
    score = "0.0"
    for i in range(len(terms)):
        score += (
            f"\n    + ln(1.0 + (CAST(n AS DOUBLE) - df{i} + 0.5)"
            f" / (CAST(df{i} AS DOUBLE) + 0.5))"
            f" * CAST(tf{i} AS DOUBLE) * 2.2"
            f" / (CAST(tf{i} AS DOUBLE)"
            f" + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)"
            f" / (CAST(dls AS DOUBLE) / CAST(n AS DOUBLE))))"
        )
    return f"""
WITH t AS (
  SELECT doc_id AS id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents),
s AS (SELECT id, len(toks) AS dl,
         {tf_cols}
      FROM t),
st AS (SELECT count(*) AS n, sum(dl) AS dls,
         {df_cols}
       FROM s),
sc AS (SELECT id, {score} AS raw FROM s, st)
SELECT id, floor(raw * 1e6 + 1e-6) / 1e6 AS score,
       CAST(row_number() OVER (ORDER BY raw DESC, id ASC) AS BIGINT) AS rank
FROM sc WHERE raw > 0 ORDER BY raw DESC, id ASC LIMIT {top_k}
"""


ORACLE_BM25 = _oracle_bm25(_BM25_TERMS, 10)


def hybrid_rrf_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (operators/search.py): Reciprocal Rank Fusion of a
    BM25 keyword ranking (depth 50) with an exact-cosine vector ranking
    (query = embedding of vec_id 0, depth 50), k=60, fused top-10. Both
    rank lists are tiny regardless of corpus size; the fusion join
    broadcasts."""
    from jsonschema_spark.operators.search import bm25_topk, rrf_fuse
    from jsonschema_spark.operators.simsearch import brute_force_topk

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    kw = bm25_topk(docs, _BM25_TERMS, top_k=50)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    vec = brute_force_topk(emb, q, k=50).select(
        F.col("neighbor_id").alias("id"), F.col("rank")
    )
    return rrf_fuse([kw.select("id", "rank"), vec], k=60, top_k=10)


ORACLE_HYBRID_RRF = f"""
WITH t AS (
  SELECT doc_id AS id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents),
s AS (SELECT id, len(toks) AS dl,
         len(list_filter(toks, x -> x = 'spark')) AS tf0,
         len(list_filter(toks, x -> x = 'window')) AS tf1,
         len(list_filter(toks, x -> x = 'customer')) AS tf2
      FROM t),
st AS (SELECT count(*) AS n, sum(dl) AS dls,
         sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
         sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
       FROM s),
sc AS (SELECT id, 0.0
    + ln(1.0 + (CAST(n AS DOUBLE) - df0 + 0.5) / (CAST(df0 AS DOUBLE) + 0.5))
      * CAST(tf0 AS DOUBLE) * 2.2
      / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
         / (CAST(dls AS DOUBLE) / CAST(n AS DOUBLE))))
    + ln(1.0 + (CAST(n AS DOUBLE) - df1 + 0.5) / (CAST(df1 AS DOUBLE) + 0.5))
      * CAST(tf1 AS DOUBLE) * 2.2
      / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
         / (CAST(dls AS DOUBLE) / CAST(n AS DOUBLE))))
    + ln(1.0 + (CAST(n AS DOUBLE) - df2 + 0.5) / (CAST(df2 AS DOUBLE) + 0.5))
      * CAST(tf2 AS DOUBLE) * 2.2
      / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
         / (CAST(dls AS DOUBLE) / CAST(n AS DOUBLE))))
    AS raw FROM s, st),
kw AS (
  SELECT id, CAST(row_number() OVER (ORDER BY raw DESC, id ASC) AS BIGINT) AS r
  FROM sc WHERE raw > 0 ORDER BY raw DESC, id ASC LIMIT 50),
corpus AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS emb
           FROM embeddings),
q AS (SELECT emb AS qv FROM corpus WHERE vec_id = 0),
scored AS (
  SELECT c.vec_id AS id,
         list_dot_product(c.emb, q.qv)
           / (sqrt(list_dot_product(c.emb, c.emb))
              * sqrt(list_dot_product(q.qv, q.qv))) AS cos
  FROM corpus c, q),
vec AS (
  SELECT id, CAST(row_number() OVER (ORDER BY cos DESC, id ASC) AS BIGINT) AS r
  FROM scored ORDER BY cos DESC, id ASC LIMIT 50),
fused AS (
  SELECT coalesce(kw.id, vec.id) AS id,
         (CASE WHEN kw.r IS NOT NULL THEN 1.0 / (60.0 + CAST(kw.r AS DOUBLE))
               ELSE 0.0 END)
         + (CASE WHEN vec.r IS NOT NULL THEN 1.0 / (60.0 + CAST(vec.r AS DOUBLE))
                 ELSE 0.0 END) AS s
  FROM kw FULL OUTER JOIN vec ON kw.id = vec.id)
SELECT id, floor(s * 1e6 + 1e-6) / 1e6 AS rrf_score,
       CAST(row_number() OVER (ORDER BY s DESC, id ASC) AS BIGINT) AS rank
FROM fused ORDER BY s DESC, id ASC LIMIT 10
"""


_CMS_CANDIDATES = [
    "spark", "join", "window", "filter", "group",
    "customer", "data", "scan", "merge", "notaword",
]


def cms_tokens_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch token frequencies (operators/sketches.py): build a
    4×2048 mergeable counter relation over ALL document tokens (the only
    exchange is ≤ depth·width cells per task after map-side combine), then
    point-estimate a fixed candidate list and compare against the exact
    counts. Output: (term, cms_count, exact_count) — CMS never
    undercounts, so cms_count ≥ exact_count row-by-row."""
    from jsonschema_spark.operators.dedup import tokens
    from jsonschema_spark.operators.sketches import cms_build, cms_estimate

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("term"))
    sk = cms_build(toks, "term", depth=4, width=2048)
    est = cms_estimate(sk, _CMS_CANDIDATES, depth=4, width=2048)
    exact = (
        toks.filter(F.col("term").isin(_CMS_CANDIDATES))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return (
        est.join(exact, "term", "left")
        .select(
            "term",
            "cms_count",
            F.coalesce("exact_count", F.lit(0)).alias("exact_count"),
        )
    )


def _oracle_cms() -> str:
    cand = ", ".join(f"'{t}'" for t in _CMS_CANDIDATES)
    return f"""
WITH toks AS (
  SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS term
  FROM documents),
ds AS (SELECT unnest(generate_series(0, 3)) AS d),
cells AS (
  SELECT ds.d,
         CAST(('0x' || substr(md5('cms:' || term), 1 + 8 * ds.d, 8)) AS BIGINT) % 2048 AS col
  FROM toks, ds),
sketch AS (SELECT d, col, count(*) AS cnt FROM cells GROUP BY 1, 2),
cand AS (SELECT unnest([{cand}]) AS term),
ccells AS (
  SELECT term, ds.d,
         CAST(('0x' || substr(md5('cms:' || term), 1 + 8 * ds.d, 8)) AS BIGINT) % 2048 AS col
  FROM cand, ds),
est AS (
  SELECT term, min(coalesce(cnt, 0)) AS cms_count
  FROM ccells LEFT JOIN sketch USING (d, col) GROUP BY term),
exact AS (
  SELECT term, count(*) AS n FROM toks WHERE term IN ({cand}) GROUP BY term)
SELECT est.term, est.cms_count, coalesce(exact.n, 0) AS exact_count
FROM est LEFT JOIN exact ON est.term = exact.term
"""


ORACLE_CMS = _oracle_cms()


def scd2_history_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 validity intervals (operators/scd.py) treating events as
    a per-user state change log (state = event_type): run-length compacted
    intervals with version numbers, ONE exchange on user_id, all-integer
    arithmetic."""
    from jsonschema_spark.operators.scd import scd2_history

    return scd2_history(_t(spark, sf_dir, "events"))


ORACLE_SCD2 = """
WITH s AS (
  SELECT user_id AS entity, epoch_us(ts) AS us, event_id AS tb,
         event_type AS state
  FROM events),
l AS (
  SELECT entity, us, tb, state,
         lag(state) OVER (PARTITION BY entity ORDER BY us, tb) AS prev
  FROM s),
st AS (SELECT entity, us, tb, state FROM l WHERE prev IS NULL OR state <> prev)
SELECT entity AS user_id, state, us AS valid_from_us,
       lead(us) OVER w AS valid_to_us,
       CAST(row_number() OVER w AS BIGINT) AS version
FROM st WINDOW w AS (PARTITION BY entity ORDER BY us, tb)
"""


def token_diversity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical diversity (operators/text.py): token count,
    type count, type-token ratio, Shannon entropy — one explode, two
    map-side-combining aggregates."""
    from jsonschema_spark.operators.text import token_diversity

    return token_diversity(_t(spark, sf_dir, "documents"), "doc_id", "text")


ORACLE_TOKEN_DIVERSITY = """
WITH t AS (
  SELECT doc_id AS id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS term
  FROM documents),
pairs AS (SELECT id, term, count(*) AS c FROM t GROUP BY 1, 2),
per AS (
  SELECT id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_types,
         sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clogc
  FROM pairs GROUP BY id)
SELECT id, n_tokens, n_types,
       floor(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 1e6 + 1e-6) / 1e6
         AS type_token_ratio,
       floor((ln(CAST(n_tokens AS DOUBLE)) - clogc / CAST(n_tokens AS DOUBLE))
             * 1e6 + 1e-6) / 1e6 AS token_entropy
FROM per
"""


def hard_negatives_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/simsearch.py): per query (vec_id <
    3), exact-cosine ranks 6..10 — informative negatives outside the
    presumed-positive top-5. Broadcast queries, one corpus scan, per-query
    rank heap."""
    from jsonschema_spark.operators.simsearch import hard_negatives

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = hard_negatives(emb, queries, skip_top=5, k=5)
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


ORACLE_HARD_NEGATIVES = """
WITH corpus AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS emb FROM embeddings),
q AS (SELECT vec_id AS query_id, emb AS qv FROM corpus WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_dot_product(c.emb, q.qv) / (sqrt(list_dot_product(c.emb, c.emb)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
  FROM corpus c, q),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank,
         cos
  FROM scored)
SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine
FROM ranked WHERE rank > 5 AND rank <= 10
"""


def funnel_windowed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window funnel (operators/timeseries.py): view -> click ->
    purchase where each hop must land within 24h of the previous step's
    earliest completion — same one-exchange chained-window plan as the
    unconstrained funnel."""
    from jsonschema_spark.operators.timeseries import funnel_steps

    return funnel_steps(
        _t(spark, sf_dir, "events"),
        ["view", "click", "purchase"],
        within_seconds=86400,
    )


ORACLE_FUNNEL_WINDOWED = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
),
w1 AS (
  SELECT *, min(CASE WHEN event_type = 'view' THEN us END)
              OVER (PARTITION BY user_id) AS s1 FROM e),
w2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND us > s1
                      AND us <= s1 + 86400000000 THEN us END)
              OVER (PARTITION BY user_id) AS s2 FROM w1),
w3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND us > s2
                      AND us <= s2 + 86400000000 THEN us END)
              OVER (PARTITION BY user_id) AS s3 FROM w2),
per AS (
  SELECT user_id, max(s1) AS s1, max(s2) AS s2, max(s3) AS s3
  FROM w3 GROUP BY user_id)
SELECT step_idx, step_name, users_reached FROM (
  SELECT 1 AS step_idx, 'view' AS step_name, count(s1) AS users_reached FROM per
  UNION ALL
  SELECT 2, 'click', count(s2) FROM per
  UNION ALL
  SELECT 3, 'purchase', count(s3) FROM per
) ORDER BY step_idx
"""


def assoc_rules_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (operators/assoc.py) over per-user
    event-kind baskets: support/confidence/lift for every co-occurring
    kind pair (both directions), support >= 0.1. The pair self-join runs
    on the entity key of the already-distinct basket relation — the
    per-user pair count is C(k,2) with k bounded by the kind vocabulary."""
    from jsonschema_spark.operators.assoc import association_rules

    return association_rules(
        _t(spark, sf_dir, "events"), "user_id", "event_type", min_support=0.1
    )


ORACLE_ASSOC_RULES = """
WITH baskets AS (SELECT DISTINCT user_id AS entity, event_type AS item FROM events),
tot AS (SELECT count(DISTINCT entity) AS n_entities FROM baskets),
ic AS (SELECT item, count(*) AS n_item FROM baskets GROUP BY item),
pairs AS (
  SELECT a.item AS ant, b.item AS con, count(*) AS n_both
  FROM baskets a JOIN baskets b ON a.entity = b.entity AND a.item <> b.item
  GROUP BY 1, 2),
e AS (
  SELECT p.ant, p.con, p.n_both,
         CAST(p.n_both AS DOUBLE) / CAST(t.n_entities AS DOUBLE) AS support,
         CAST(p.n_both AS DOUBLE) / CAST(ia.n_item AS DOUBLE) AS conf,
         (CAST(p.n_both AS DOUBLE) / CAST(ia.n_item AS DOUBLE))
           / (CAST(ic2.n_item AS DOUBLE) / CAST(t.n_entities AS DOUBLE)) AS lift
  FROM pairs p
  JOIN ic ia ON ia.item = p.ant
  JOIN ic ic2 ON ic2.item = p.con, tot t)
SELECT ant AS antecedent, con AS consequent, n_both,
       floor(support * 1e6 + 1e-6) / 1e6 AS support,
       floor(conf * 1e6 + 1e-6) / 1e6 AS confidence,
       floor(lift * 1e6 + 1e-6) / 1e6 AS lift
FROM e WHERE support >= 0.1
"""


