"""DuckDB oracle SQL for the ann queries (:mod:`sdg_engine.queries.ann`)."""

from __future__ import annotations

ORACLES: dict[str, str] = {}


EMBEDDING_NORMS = """
SELECT vec_id,
       ROUND(SQRT(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,
       label
FROM embeddings
"""

_DOT_DUCK = (
    "list_sum(list_transform(generate_series(1, len(a.embedding)), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
)

ANN_COSINE_TOPK = f"""
WITH nrm AS (
  SELECT vec_id, embedding,
         SQRT(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         {_DOT_DUCK} / (a.nrm * b.nrm) AS cos_sim
  FROM nrm a CROSS JOIN nrm b
  WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rnk
  FROM pairs
)
SELECT query_id, neighbor_id, rnk, ROUND(cos_sim, 4) AS cos_sim
FROM ranked WHERE rnk <= 5
"""


def _dot_plane(j: int) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len(embedding)), "
        f"i -> CAST(embedding[i] AS DOUBLE) * "
        f"CAST((i * 31 + {j} * 17) * 2654435761 % 1000 - 500 AS DOUBLE)))"
    )


_BUCKET = " + ".join(
    f"(CASE WHEN {_dot_plane(j)} > CAST(0 AS DOUBLE) THEN {1 << j} ELSE 0 END)"
    for j in range(8)
)

EMBEDDING_LSH_BUCKETS = f"""
SELECT CAST(({_BUCKET}) AS INT) AS bucket, COUNT(*) AS n_vecs
FROM embeddings GROUP BY 1
"""

_DOT_AB = (
    "list_sum(list_transform(generate_series(1, len(a.embedding)), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
)

ANN_LSH_TOPK = f"""
WITH base AS (
  SELECT vec_id, embedding,
         CAST(({_BUCKET}) AS INT) AS bucket,
         SQRT(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         {_DOT_AB} / (a.nrm * b.nrm) AS cos_sim
  FROM base a JOIN base b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
  WHERE a.vec_id < 20
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rnk
  FROM pairs
)
SELECT query_id, neighbor_id, rnk, ROUND(cos_sim, 4) AS cos_sim
FROM ranked WHERE rnk <= 3
"""


# --- embedding-cosine near-dup (banded sign-LSH candidates + exact τ) -------
_BAND0 = " + ".join(
    f"(CASE WHEN {_dot_plane(j)} > CAST(0 AS DOUBLE) THEN {1 << j} ELSE 0 END)"
    for j in range(4)
)
_BAND1 = " + ".join(
    f"(CASE WHEN {_dot_plane(j)} > CAST(0 AS DOUBLE) THEN {1 << (j - 4)} ELSE 0 END)"
    for j in range(4, 8)
)

# stop-bucket rule: buckets larger than queries.ann._NEARDUP_STOP_BUCKET
# (4096) are dropped on BOTH engines — the 100 TB candidate-volume bound
EMBEDDING_COSINE_NEARDUP = f"""
WITH base AS (
  SELECT vec_id, embedding,
         CAST(({_BAND0}) AS INT) AS b0, CAST(({_BAND1}) AS INT) AS b1,
         SQRT(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
),
bands0 AS (
  SELECT vec_id, 0 AS band, b0 AS bval FROM base UNION ALL
  SELECT vec_id, 1, b1 FROM base
),
bsz AS (SELECT band, bval, COUNT(*) AS bn FROM bands0 GROUP BY band, bval),
bands AS (
  SELECT b.vec_id, b.band, b.bval
  FROM bands0 b JOIN bsz USING (band, bval) WHERE bsz.bn <= 4096
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bval = b.bval
  WHERE a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b, ROUND({_DOT_AB} / (a.nrm * b.nrm), 4) AS cos_sim
FROM cand c
JOIN base a ON c.vec_a = a.vec_id
JOIN base b ON c.vec_b = b.vec_id
WHERE {_DOT_AB} / (a.nrm * b.nrm) > CAST(0.40 AS DOUBLE)
"""


# --- deterministic 2-iteration Lloyd k-means (k=8, seeds vec_id 0..7) -------
# Fold parity: list_sum/list_transform here == aggregate/zip_with on the
# Spark side (both sequential); the centroid AVG is rounded to 6dp in
# both engines before iteration 2, so assignments match exactly.
_KM_D2_C1 = (
    "list_sum(list_transform(generate_series(1, len(e.emb)), "
    "i -> (e.emb[i] - c.cent[i]) * (e.emb[i] - c.cent[i])))"
)

KMEANS_EMBEDDINGS = f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
c1 AS (SELECT CAST(vec_id AS INT) AS cid, emb AS cent FROM emb WHERE vec_id < 8),
d1 AS (
  SELECT e.vec_id, c.cid, {_KM_D2_C1} AS d2
  FROM emb e CROSS JOIN c1 c
),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
    FROM d1
  ) r WHERE rn = 1
),
upd AS (
  SELECT a.cid, ks.i AS pos, e.emb[ks.i] AS x
  FROM a1 a JOIN emb e USING (vec_id), UNNEST(generate_series(1, 64)) AS ks(i)
),
c2dim AS (SELECT cid, pos, ROUND(AVG(x), 6) AS c FROM upd GROUP BY cid, pos),
c2 AS (SELECT cid, list(c ORDER BY pos) AS cent FROM c2dim GROUP BY cid),
d2i AS (
  SELECT e.vec_id, c.cid, {_KM_D2_C1} AS d2
  FROM emb e CROSS JOIN c2 c
),
a2 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
    FROM d2i
  ) r WHERE rn = 1
)
SELECT a2.cid AS cluster_id, COUNT(*) AS n_members, MIN(a2.vec_id) AS min_vec_id,
       MIN(n.centroid_norm) AS centroid_norm
FROM a2 JOIN (
  SELECT cid, ROUND(SQRT(list_sum(list_transform(cent, c -> c * c))), 4)
         AS centroid_norm
  FROM c2
) n ON a2.cid = n.cid
GROUP BY a2.cid
"""


def _ivf_d2(j: int) -> str:
    return (
        "list_sum(list_transform(generate_series(1, len(embedding)), "
        f"i -> (CAST(embedding[i] AS DOUBLE) - (CAST((i * 11 + {j} * 37) % 16 - 8 AS DOUBLE) "
        "/ CAST(4 AS DOUBLE))) * (CAST(embedding[i] AS DOUBLE) - "
        f"(CAST((i * 11 + {j} * 37) % 16 - 8 AS DOUBLE) / CAST(4 AS DOUBLE)))))"
    )


_IVF_DS = ", ".join(f"{_ivf_d2(j)} AS _d{j}" for j in range(8))
_IVF_BEST = "LEAST(" + ", ".join(f"_d{j}" for j in range(8)) + ")"
_IVF_CID = "CASE " + " ".join(f"WHEN _d{j} = _best THEN {j}" for j in range(8)) + " END"

ANN_IVF_TOPK = f"""
WITH d AS (
  SELECT vec_id, embedding, {_IVF_DS},
         SQRT(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
),
base AS (
  SELECT vec_id, embedding, nrm, CAST({_IVF_CID.replace("_best", _IVF_BEST)} AS INT) AS ivf_cell
  FROM d
),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         {_DOT_AB} / (a.nrm * b.nrm) AS cos_sim
  FROM base a JOIN base b ON a.ivf_cell = b.ivf_cell AND a.vec_id <> b.vec_id
  WHERE a.vec_id < 20
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rnk
  FROM pairs
)
SELECT query_id, neighbor_id, rnk, ROUND(cos_sim, 4) AS cos_sim
FROM ranked WHERE rnk <= 3
"""

_IVF_MASKED = [
    f"CASE WHEN {j} = ivf_cell THEN CAST(1e308 AS DOUBLE) ELSE _d{j} END"
    for j in range(8)
]
_IVF_CELL2 = "CASE " + " ".join(
    f"WHEN ({m}) = _b2 THEN {j}" for j, m in enumerate(_IVF_MASKED)
) + " END"

ANN_IVF_MULTIPROBE = f"""
WITH d AS (
  SELECT vec_id, embedding, {_IVF_DS},
         SQRT(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
),
base AS (
  SELECT vec_id, embedding, nrm,
         CAST({_IVF_CID.replace("_best", _IVF_BEST)} AS INT) AS ivf_cell
  FROM d
),
q AS (
  SELECT vec_id, embedding, nrm, ivf_cell, {_IVF_DS}
  FROM base WHERE vec_id < 20
),
q2 AS (
  SELECT *, LEAST({", ".join(_IVF_MASKED)}) AS _b2 FROM q
),
probes AS (
  SELECT vec_id, embedding, nrm,
         UNNEST([ivf_cell, CAST({_IVF_CELL2} AS INT)]) AS pcell
  FROM q2
),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         {_DOT_AB} / (a.nrm * b.nrm) AS cos_sim
  FROM probes a JOIN base b ON a.pcell = b.ivf_cell AND a.vec_id <> b.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rnk
  FROM pairs
)
SELECT query_id, neighbor_id, rnk, ROUND(cos_sim, 4) AS cos_sim
FROM ranked WHERE rnk <= 3
"""


# sequential 8-element folds — the kmeans oracle's proven
# list_sum/list_transform twin of Spark's aggregate/zip_with
_PQ_D2_SC = (
    "list_sum(list_transform(generate_series(1, 8), "
    "i -> (s.sub[i] - c.cent[i]) * (s.sub[i] - c.cent[i])))"
)
_PQ_D2_QC = (
    "list_sum(list_transform(generate_series(1, 8), "
    "i -> (q.qsub[i] - c.cent[i]) * (q.qsub[i] - c.cent[i])))"
)

ANN_PQ_TOPK = f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
sub AS (
  SELECT vec_id, ms.m AS m, list_slice(emb, ms.m * 8 + 1, ms.m * 8 + 8) AS sub
  FROM emb, UNNEST(generate_series(0, 7)) AS ms(m)
),
cb1 AS (SELECT m, CAST(vec_id AS INT) AS code, sub AS cent
        FROM sub WHERE vec_id < 16),
d1 AS (SELECT s.vec_id, s.m, c.code, {_PQ_D2_SC} AS d2
       FROM sub s JOIN cb1 c ON c.m = s.m),
a1 AS (SELECT vec_id, m, code FROM (
         SELECT vec_id, m, code,
                ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                   ORDER BY d2 ASC, code ASC) AS rn
         FROM d1) r WHERE rn = 1),
upd AS (SELECT a.m, a.code, ks.i AS pos, s.sub[ks.i] AS x
        FROM a1 a JOIN sub s USING (vec_id, m),
             UNNEST(generate_series(1, 8)) AS ks(i)),
cb2d AS (SELECT m, code, pos, ROUND(AVG(x), 6) AS c
         FROM upd GROUP BY 1, 2, 3),
cb2 AS (SELECT m, code, list(c ORDER BY pos) AS cent FROM cb2d GROUP BY 1, 2),
d2i AS (SELECT s.vec_id, s.m, c.code, {_PQ_D2_SC} AS d2
        FROM sub s JOIN cb2 c ON c.m = s.m),
codes AS (SELECT vec_id, m, code FROM (
            SELECT vec_id, m, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                      ORDER BY d2 ASC, code ASC) AS rn
            FROM d2i) r WHERE rn = 1),
q AS (SELECT vec_id AS qid, m, sub AS qsub FROM sub WHERE vec_id % 100 = 0),
lut AS (SELECT q.qid, q.m, c.code,
               CAST(FLOOR({_PQ_D2_QC} * 1000000) AS BIGINT) AS d2u
        FROM q JOIN cb2 c ON c.m = q.m),
adc AS (SELECT l.qid, co.vec_id, CAST(SUM(d2u) AS BIGINT) AS ad2_u
        FROM codes co JOIN lut l ON l.m = co.m AND l.code = co.code
        WHERE co.vec_id <> l.qid GROUP BY 1, 2)
SELECT qid, CAST(rnk AS INT) AS rnk, vec_id, ad2_u FROM (
  SELECT qid, vec_id, ad2_u,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ad2_u ASC, vec_id ASC)
           AS rnk
  FROM adc) r WHERE rnk <= 5
"""


def _ann_recall_sql() -> str:
    """ann_recall_eval: recall@3 composed from the SAME two certified
    ANN twins (exact baseline + IVF), so the approximation cost the
    engine reports is pinned exactly."""
    return f"""
WITH exact AS (
  SELECT query_id, neighbor_id FROM ({ANN_COSINE_TOPK}) WHERE rnk <= 3
),
ivf AS (
  SELECT query_id, neighbor_id FROM ({ANN_IVF_TOPK})
  WHERE query_id < 10 AND rnk <= 3
),
q AS (SELECT DISTINCT query_id FROM exact),
h AS (
  SELECT e.query_id, COUNT(*) AS n_hit
  FROM exact e JOIN ivf i
    ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
  GROUP BY 1
)
SELECT q.query_id, CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       CAST(FLOOR(COALESCE(h.n_hit, 0) * 1000 / 3) AS BIGINT) AS recall_mils
FROM q LEFT JOIN h USING (query_id)
"""


ORACLES["ann_recall_eval"] = _ann_recall_sql()


def _ann_sq8_sql() -> str:
    """ann_sq8_recall: the same per-tensor SQ8 quantization chain
    (shared FLOOR text — IEEE-identical), integer quantized dots, and
    recall@3 against the SAME certified exact baseline."""
    from ..queries.ann import _SQ8_Q

    qexpr = _SQ8_Q.format(col="embedding").replace(
        "transform(", "list_transform(", 1
    )
    return f"""
WITH rng AS (
  SELECT MIN(v) AS mn, MAX(v) AS mx
  FROM (SELECT unnest(embedding) AS v FROM embeddings)
),
q AS (SELECT vec_id, {qexpr} AS qv FROM embeddings, rng),
qn AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS q2
  FROM q
),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(generate_series(1, len(a.qv)),
              i -> a.qv[i] * b.qv[i])) AS BIGINT) AS qdot,
         a.q2 AS qa2, b.q2 AS qb2
  FROM qn a CROSS JOIN qn b
  WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id
    AND a.q2 > 0 AND b.q2 > 0
),
approx AS (
  SELECT query_id, neighbor_id
  FROM (
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
             CAST(qdot AS DOUBLE) / (SQRT(CAST(qa2 AS DOUBLE))
               * SQRT(CAST(qb2 AS DOUBLE))) DESC,
             neighbor_id ASC) AS INT) AS rnk
    FROM pairs
  ) WHERE rnk <= 3
),
exact AS (
  SELECT query_id, neighbor_id FROM ({ANN_COSINE_TOPK}) WHERE rnk <= 3
),
qs AS (SELECT DISTINCT query_id FROM exact),
h AS (
  SELECT e.query_id, COUNT(*) AS n_hit
  FROM exact e JOIN approx a
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY 1
)
SELECT qs.query_id, CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       CAST(FLOOR(COALESCE(h.n_hit, 0) * 1000 / 3) AS BIGINT) AS recall_mils
FROM qs LEFT JOIN h USING (query_id)
"""


ORACLES["ann_sq8_recall"] = _ann_sq8_sql()


def _pca_sql() -> str:
    """Unrolled integer power iteration: v_i -> w_{i+1} -> v_{i+1},
    each CTE referencing only its predecessor ONCE (the per-round max
    is a window over the 64-row relation, not a scalar subquery — a
    second reference would re-inline the whole chain per round)."""
    from ..queries.ann import _PCA_DAMP, _PCA_DIM, _PCA_ROUNDS

    ctes = [
        f"q AS (SELECT vec_id, u.j AS j,"
        " CAST(FLOOR(CAST(embedding[u.j] AS DOUBLE) * 1000.0 + 0.5)"
        " AS BIGINT) AS qv"
        f" FROM embeddings, UNNEST(generate_series(1, {_PCA_DIM})) AS u(j))",
        "cov AS (SELECT a.j AS j, b.j AS k,"
        " CAST(SUM(a.qv * b.qv) AS BIGINT) AS s"
        " FROM q a JOIN q b USING (vec_id) GROUP BY a.j, b.j)",
        f"m AS (SELECT j, k, CAST(FLOOR(CAST(s AS DOUBLE) / {_PCA_DAMP})"
        " AS BIGINT) AS m FROM cov)",
        "v0 AS (SELECT DISTINCT j, CAST(1000000 AS BIGINT) AS v FROM m)",
    ]
    for i in range(1, _PCA_ROUNDS + 1):
        ctes.append(
            f"w{i} AS (SELECT m.j AS j, CAST(SUM(m.m * v{i - 1}.v) AS BIGINT)"
            f" AS w FROM m JOIN v{i - 1} ON v{i - 1}.j = m.k GROUP BY m.j)"
        )
        ctes.append(
            f"v{i} AS (SELECT j, CAST(FLOOR(1000000.0 * w / MAX(ABS(w))"
            f" OVER ()) AS BIGINT) AS v FROM w{i})"
        )
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT j, v AS loading FROM v{_PCA_ROUNDS}")


ORACLES["pca_power_iteration"] = _pca_sql()


ORACLES["embeddings_davies_bouldin"] = """
WITH comp AS (
  SELECT vec_id, label, u.j - 1 AS j,
         CAST(FLOOR(CAST(embedding[u.j] AS DOUBLE) * 1000.0 + 0.5)
              AS BIGINT) AS qx
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(j)
),
cent AS (
  SELECT label, j, CAST(CAST(SUM(qx) AS BIGINT) // COUNT(*) AS BIGINT) AS c
  FROM comp GROUP BY 1, 2
),
dists AS (
  SELECT comp.label,
         CAST(FLOOR(SQRT(CAST(CAST(SUM((qx - c) * (qx - c)) AS BIGINT)
              AS DOUBLE))) AS BIGINT) AS dist
  FROM comp JOIN cent USING (label, j)
  GROUP BY comp.vec_id, comp.label
),
scatter AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(CAST(SUM(dist) AS BIGINT) // COUNT(*) AS BIGINT) AS s_mils
  FROM dists GROUP BY 1
),
csep AS (
  SELECT a.label AS la, b.label AS lb,
         CAST(FLOOR(SQRT(CAST(CAST(SUM((a.c - b.c) * (a.c - b.c))
              AS BIGINT) AS DOUBLE))) AS BIGINT) AS m_mils
  FROM cent a JOIN cent b ON a.j = b.j AND a.label <> b.label
  GROUP BY 1, 2
),
r AS (
  SELECT la, CAST(MAX((1000 * (sa.s_mils + sb.s_mils)) // m_mils)
              AS BIGINT) AS d_mils
  FROM csep
  JOIN scatter sa ON sa.label = csep.la
  JOIN scatter sb ON sb.label = csep.lb
  GROUP BY 1
)
SELECT s.label, s.n_members, s.s_mils, r.d_mils
FROM scatter s JOIN r ON r.la = s.label
"""


ORACLES["embeddings_silhouette"] = """
WITH comp AS (
  SELECT vec_id, label, u.j - 1 AS j,
         CAST(FLOOR(CAST(embedding[u.j] AS DOUBLE) * 1000.0 + 0.5)
              AS BIGINT) AS qx
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(j)
),
cent AS (
  SELECT label AS clabel, j,
         CAST(CAST(SUM(qx) AS BIGINT) // COUNT(*) AS BIGINT) AS c
  FROM comp GROUP BY 1, 2
),
dists AS (
  SELECT vec_id, label, clabel,
         CAST(FLOOR(SQRT(CAST(CAST(SUM((qx - c) * (qx - c)) AS BIGINT)
              AS DOUBLE))) AS BIGINT) AS dist
  FROM comp JOIN cent USING (j)
  GROUP BY 1, 2, 3
),
ab AS (
  SELECT vec_id, label,
         MIN(CASE WHEN clabel = label THEN dist END) AS a,
         MIN(CASE WHEN clabel <> label THEN dist END) AS b
  FROM dists GROUP BY 1, 2
),
s AS (
  SELECT label, (1000 * (b - a)) // GREATEST(a, b) AS s_mils
  FROM ab WHERE GREATEST(a, b) > 0
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(s_mils) AS BIGINT) AS sum_s_mils,
       CAST(CAST(SUM(s_mils) AS BIGINT) // COUNT(*) AS BIGINT)
         AS mean_s_mils
FROM s GROUP BY 1
"""


_MAT_DOT16 = (
    "list_sum(list_transform(generate_series(1, 16), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
)

_MAT_DOT64 = (
    "list_sum(list_transform(generate_series(1, len(a.embedding)), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
)

ORACLES["ann_matryoshka_recall"] = f"""
WITH nrm64 AS (
  SELECT vec_id, embedding,
         SQRT(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           {_MAT_DOT64} / (a.nrm * b.nrm) AS cos_sim
    FROM nrm64 a CROSS JOIN nrm64 b
    WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id
  )
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, neighbor_id ASC) <= 3
),
nrm16 AS (
  SELECT vec_id, embedding[1:16] AS embedding,
         SQRT(list_sum(list_transform(embedding[1:16],
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
),
trunc AS (
  SELECT query_id, neighbor_id FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           {_MAT_DOT16} / (a.nrm * b.nrm) AS cos_sim
    FROM nrm16 a CROSS JOIN nrm16 b
    WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id
  )
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, neighbor_id ASC) <= 3
),
hits AS (
  SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
  FROM exact e JOIN trunc t USING (query_id, neighbor_id)
  GROUP BY e.query_id
)
SELECT q.query_id,
       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       CAST(COALESCE(h.n_hit, 0) * 1000 // 3 AS BIGINT) AS recall_mils
FROM (SELECT DISTINCT query_id FROM exact) q
LEFT JOIN hits h USING (query_id)
ORDER BY q.query_id
"""


ORACLES.update({
    "embedding_norms": EMBEDDING_NORMS,
    "ann_cosine_topk": ANN_COSINE_TOPK,
    "ann_ivf_topk": ANN_IVF_TOPK,
    "ann_ivf_multiprobe": ANN_IVF_MULTIPROBE,
    "embedding_cosine_neardup": EMBEDDING_COSINE_NEARDUP,
    "kmeans_embeddings": KMEANS_EMBEDDINGS,
    "embedding_lsh_buckets": EMBEDDING_LSH_BUCKETS,
    "ann_lsh_topk": ANN_LSH_TOPK,
    "ann_pq_topk": ANN_PQ_TOPK,
})
