"""Embedding queries: norms, exact and approximate nearest neighbours
(LSH, IVF, PQ, SQ8, Matryoshka), k-means, cluster quality and PCA."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..skew import spread
from ._common import _drain_confs, _t


_DOT = (
    "aggregate(zip_with(CAST(a.embedding AS ARRAY<DOUBLE>), "
    "CAST(b.embedding AS ARRAY<DOUBLE>), (x, y) -> x * y), "
    "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)


def embedding_norms(spark, sf_dir):
    """L2 norm of every embedding vector (a left fold of squares in
    array order, so both engines sum identically), rounded to 4 places."""
    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.expr(
            "ROUND(SQRT(aggregate(embedding, CAST(0 AS DOUBLE), "
            "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 4)"
        ).alias("l2_norm"),
        "label",
    )


def _cosine_ranked(emb):
    """``(query_id, neighbor_id, cos_sim, rnk)``: every other vector of
    ``(vec_id, embedding)`` ranked by exact cosine similarity to each
    query vector (``vec_id < 10``), ties to the smaller neighbour id.
    The ≤10-row query side is broadcast."""
    norm = F.expr(
        "SQRT(aggregate(embedding, CAST(0 AS DOUBLE), "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )
    with_norm = emb.select("vec_id", "embedding", norm.alias("nrm"))
    queries_ = F.broadcast(with_norm.filter(F.col("vec_id") < 10)).alias("a")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        queries_.crossJoin(with_norm.alias("b"))
        .filter(F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            F.expr(f"{_DOT} / (a.nrm * b.nrm)").alias("cos_sim"),
        )
        .withColumn("rnk", F.row_number().over(w))
    )


def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 per query vector (the exactness baseline
    for approximate variants; SURVEY.md training-data extras).

    The cartesian is BOUNDED by construction: the ≤10-row query side is
    explicitly broadcast, so the plan is one streaming pass over the
    target table probing a tiny broadcast (BroadcastNestedLoopJoin,
    pinned in tests/test_plans.py) — never an unbounded shuffle
    cartesian.  Scale replacements: ann_lsh_topk / ann_ivf_topk (bucket
    equi-joins, both oracle-checked)."""
    return (
        _cosine_ranked(_t(spark, sf_dir, "embeddings"))
        .filter(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id", "rnk", F.round("cos_sim", 4).alias("cos_sim"))
    )


_N_PLANES = 8


def _dot_plane_expr(j: int) -> str:
    """Deterministic pseudo-random hyperplane j: h[i] = ((i*31 + j*17)
    * 2654435761 % 1000) - 500, folded sequentially (bit-identical in
    DuckDB's list_sum/list_transform)."""
    return (
        f"aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>), "
        f"transform(sequence(1, size(embedding)), i -> "
        f"CAST((i * 31 + {j} * 17) * 2654435761 % 1000 - 500 AS DOUBLE)), "
        f"(x, w) -> x * w), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def embedding_lsh_buckets(spark, sf_dir):
    """Sign-LSH bucketing: 8 hyperplane sign bits → bucket id, counts.

    The bucketed (IVF-style) candidate structure for approximate
    nearest-neighbor at scale — bucket join replaces brute force."""
    emb = _t(spark, sf_dir, "embeddings")
    bucket = " + ".join(
        f"(CASE WHEN {_dot_plane_expr(j)} > CAST(0 AS DOUBLE) THEN {1 << j} ELSE 0 END)"
        for j in range(_N_PLANES)
    )
    return (
        emb.withColumn("bucket", F.expr(f"({bucket})").cast("int"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


def ann_lsh_topk(spark, sf_dir):
    """Approximate ANN: cosine top-3 restricted to same LSH bucket."""
    emb = _t(spark, sf_dir, "embeddings")
    bucket = " + ".join(
        f"(CASE WHEN {_dot_plane_expr(j)} > CAST(0 AS DOUBLE) THEN {1 << j} ELSE 0 END)"
        for j in range(_N_PLANES)
    )
    norm = F.expr(
        "SQRT(aggregate(embedding, CAST(0 AS DOUBLE), "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )
    base = emb.select(
        "vec_id", "embedding", F.expr(f"({bucket})").cast("int").alias("bucket"),
        norm.alias("nrm"),
    )
    q = base.filter(F.col("vec_id") < 20).alias("a")
    t = base.alias("b")
    dot = (
        "aggregate(zip_with(CAST(a.embedding AS ARRAY<DOUBLE>), "
        "CAST(b.embedding AS ARRAY<DOUBLE>), (x, y) -> x * y), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    pairs = (
        q.join(t, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.vec_id") != F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            F.expr(f"{dot} / (a.nrm * b.nrm)").alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("query_id", "neighbor_id", "rnk", F.round("cos_sim", 4).alias("cos_sim"))
    )


_N_IVF = 8


def _ivf_dist2_expr(j: int) -> str:
    """Squared L2 to deterministic centroid j: c[i] = ((i·11 + j·37) %
    16 − 8)/4 — exact quarters, regenerable in DuckDB."""
    return (
        f"aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>), "
        f"transform(sequence(1, size(embedding)), i -> "
        f"CAST((i * 11 + {j} * 37) % 16 - 8 AS DOUBLE) / CAST(4 AS DOUBLE)), "
        f"(x, c) -> (x - c) * (x - c)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _with_ivf_cell(df):
    for j in range(_N_IVF):
        df = df.withColumn(f"_d{j}", F.expr(_ivf_dist2_expr(j)))
    best = F.expr("LEAST(" + ", ".join(f"_d{j}" for j in range(_N_IVF)) + ")")
    df = df.withColumn("_best", best)
    cid = "CASE " + " ".join(
        f"WHEN _d{j} = _best THEN {j}" for j in range(_N_IVF)
    ) + " END"
    return df.withColumn("ivf_cell", F.expr(cid).cast("int")).drop(
        *[f"_d{j}" for j in range(_N_IVF)], "_best"
    )


def ann_ivf_topk(spark, sf_dir):
    """IVF-style ANN: vectors assigned to the nearest of 8 deterministic
    coarse centroids (exact-argmin, lowest-index tie-break); cosine
    top-3 restricted to the query's IVF cell — the inverted-file
    counterpart of the sign-LSH scale path (both replace brute force
    with a bucket equi-join).

    The base projection is PERSISTED (r03, minhash_lsh_pairs template):
    the 8 coarse-quantizer distances are interpreted HOF folds
    (CLAUDE.md gotcha 4 — kept compact on purpose: literal 64-term
    codegen chains overflow janino's 64 KB method limit once the argmin
    CASE + LEAST inline them 2×, measured 6.3 s → 70 s interpreted
    fallback), and the self-join's two branches would otherwise
    re-evaluate all 8 per side (measured 6.3 s → 2.9 s at sf0.1)."""
    from pyspark import StorageLevel

    emb = _t(spark, sf_dir, "embeddings")
    norm = F.expr(
        "SQRT(aggregate(embedding, CAST(0 AS DOUBLE), "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )
    base = _with_ivf_cell(emb).select(
        "vec_id", "embedding", "ivf_cell", norm.alias("nrm")
    ).persist(StorageLevel.DISK_ONLY)
    q = base.filter(F.col("vec_id") < 20).alias("a")
    t = base.alias("b")
    dot = (
        "aggregate(zip_with(CAST(a.embedding AS ARRAY<DOUBLE>), "
        "CAST(b.embedding AS ARRAY<DOUBLE>), (x, y) -> x * y), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    pairs = (
        q.join(t, (F.col("a.ivf_cell") == F.col("b.ivf_cell"))
               & (F.col("a.vec_id") != F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            F.expr(f"{dot} / (a.nrm * b.nrm)").alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    result = (
        pairs.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("query_id", "neighbor_id", "rnk", F.round("cos_sim", 4).alias("cos_sim"))
    )
    # materialize the (tiny) top-k while the base cache is live, then
    # RELEASE it (r03 review: same leak class minhash_lsh_pairs fixed —
    # repeated invocations in a big-heap session otherwise accumulate
    # one persisted RDD per call forever)
    result = result.persist(StorageLevel.DISK_ONLY)
    result.count()
    base.unpersist()
    # CONTRACT: the returned (tiny) top-k stays cached for the consumer
    # — re-invoking callers should unpersist the previous result; the
    # harness's small-heap _prep clearCache covers driver sweeps.
    return result


# Stop-bucket bound for the neardup band join: a band bucket larger
# than this is dropped on BOTH engines (part of the defined semantics).
# 4096 rows ⇒ worst bucket contributes ≤ 8.4M candidate pairs — bounded
# per-bucket fan-out at any corpus size; harness-scale buckets are
# ~100-400 rows, far below the cap (pinned by test).
_NEARDUP_STOP_BUCKET = 4096


def ann_ivf_multiprobe(spark, sf_dir):
    """IVF ANN with MULTI-PROBE (r04): each query probes its own coarse
    cell AND the second-nearest one — the standard recall lever real
    IVF indexes use (nprobe > 1) without touching brute force.  The
    second cell is the exact second-argmin (first-argmin's distance
    masked to 1e308, lowest-index tie-break) — deterministic, so the
    DuckDB oracle reproduces it.  Scale shape: the tiny query side
    EXPLODES into (query, probe_cell) rows and equi-joins the persisted
    base on the cell — never an OR-join (which would plan as BNLJ)."""
    from pyspark import StorageLevel

    emb = _t(spark, sf_dir, "embeddings")
    norm = F.expr(
        "SQRT(aggregate(embedding, CAST(0 AS DOUBLE), "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )
    base = _with_ivf_cell(emb).select(
        "vec_id", "embedding", "ivf_cell", norm.alias("nrm")
    ).persist(StorageLevel.DISK_ONLY)
    q = base.filter(F.col("vec_id") < 20)
    for j in range(_N_IVF):
        q = q.withColumn(f"_d{j}", F.expr(_ivf_dist2_expr(j)))
    masked = [
        f"CASE WHEN {j} = ivf_cell THEN CAST(1e308 AS DOUBLE) ELSE _d{j} END"
        for j in range(_N_IVF)
    ]
    q = q.withColumn("_b2", F.expr("LEAST(" + ", ".join(masked) + ")"))
    cell2 = "CASE " + " ".join(
        f"WHEN ({m}) = _b2 THEN {j}" for j, m in enumerate(masked)
    ) + " END"
    probes = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.explode(
            F.array(F.col("ivf_cell"), F.expr(cell2).cast("int"))
        ).alias("pcell"),
    )
    dot = (
        "aggregate(zip_with(CAST(q_emb AS ARRAY<DOUBLE>), "
        "CAST(b.embedding AS ARRAY<DOUBLE>), (x, y) -> x * y), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    pairs = probes.join(
        base.alias("b"),
        (F.col("pcell") == F.col("b.ivf_cell"))
        & (F.col("query_id") != F.col("b.vec_id")),
    ).select(
        "query_id",
        F.col("b.vec_id").alias("neighbor_id"),
        F.expr(f"{dot} / (q_nrm * b.nrm)").alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    result = (
        pairs.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("query_id", "neighbor_id", "rnk",
                F.round("cos_sim", 4).alias("cos_sim"))
        .persist(StorageLevel.DISK_ONLY)
    )
    result.count()
    base.unpersist()
    return result


def embedding_cosine_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs — the vector-space dedup flavor
    (exact cos ≥ τ verification over banded sign-LSH candidates).

    Scale shape = minhash_lsh_pairs: each vector emits one row per band
    (2 bands × 4 hyperplane sign bits), candidates come from the band
    equi-join (NO crossJoin), pair ids are deduped, and only candidates
    pay the exact 64-dim cosine.  Banding is the OR-amplification that
    makes threshold recall tunable (more/narrower bands → higher recall);
    the DEFINED semantics — pairs sharing ≥1 band AND cos > 0.40 — are
    deterministic, so the DuckDB oracle matches exactly.

    r04 perf rewrite (measured 7.6 s → 1.9-2.7 s at sf0.1, same 344
    pairs): (1) the base projection is PERSISTED — it used to be
    re-evaluated on THREE branches (bands + both exact-cos join sides),
    each paying 8 interpreted HOF plane dots per vector (the
    ann_ivf_topk lesson, CLAUDE.md gotcha 16); (2) the plane dots are
    computed by posexplode + one map-side-combined codegen'd
    aggregation instead of interpreted HOF folds.  Float-parity
    caveat (r04 review): the left-fold association holds while one
    vector's 64 rows are consumed by a SINGLE partial aggregate — true
    at every oracle/bench scale here (the hash agg never spills
    mid-key), but a spill-to-sort fallback at extreme scale could
    split a key into two partials whose merged sum differs in the last
    ulp, flipping a sign bit on a dot that is exactly 0-adjacent; a
    deployment at that scale should prefer the Arrow pandas-UDF matmul
    (zero shuffle, no cross-engine-parity requirement).  Cost here:
    one narrow (vec_id, 9 doubles) agg shuffle + a 1:1 join back.
    Candidate-volume bound for 100 TB: buckets larger than
    ``_NEARDUP_STOP_BUCKET`` rows are DROPPED (stop-bucket rule, the
    ngram-index trick) — a boilerplate band value at 10^9 vectors would
    otherwise create one 10^18-pair join group; the rule is part of the
    defined semantics and the oracle applies it identically (no bucket
    reaches the cap at harness scales, verified by test)."""
    from pyspark import StorageLevel

    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id",
        F.posexplode(F.expr("CAST(embedding AS ARRAY<DOUBLE>)")).alias("pos", "x"),
    )
    aggs = [
        F.sum(F.expr(
            f"x * CAST(((pos + 1) * 31 + {j} * 17) * 2654435761 % 1000 - 500 "
            "AS DOUBLE)"
        )).alias(f"d{j}")
        for j in range(8)
    ]
    aggs.append(F.sum(F.expr("x * x")).alias("n2"))
    dots = ex.groupBy("vec_id").agg(*aggs)
    b0 = " + ".join(
        f"(CASE WHEN d{j} > CAST(0 AS DOUBLE) THEN {1 << j} ELSE 0 END)"
        for j in range(4)
    )
    b1 = " + ".join(
        f"(CASE WHEN d{j} > CAST(0 AS DOUBLE) THEN {1 << (j - 4)} ELSE 0 END)"
        for j in range(4, 8)
    )
    base = emb.join(dots, "vec_id").select(
        "vec_id", "embedding",
        F.expr("SQRT(n2)").alias("nrm"),
        F.expr(f"({b0})").cast("int").alias("b0"),
        F.expr(f"({b1})").cast("int").alias("b1"),
    ).persist(StorageLevel.DISK_ONLY)
    bands = base.select(
        "vec_id", F.expr("stack(2, 0, b0, 1, b1) AS (band, bval)")
    )
    sizes = bands.groupBy("band", "bval").agg(F.count(F.lit(1)).alias("_bn"))
    bands = bands.join(
        F.broadcast(sizes.filter(F.col("_bn") <= _NEARDUP_STOP_BUCKET)),
        ["band", "bval"],
    ).drop("_bn")
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .distinct()
    )
    # pair dot as a literal codegen chain — it runs per CANDIDATE
    # PAIR, the volume-dominated path where compiled beats interpreted
    # HOF.  NOTE (r03 review): the cos_sim > τ filter is an alias
    # filter, so Catalyst inlines the chain into the pushed predicate
    # and it evaluates ~2× per row (gotcha 13); the measured 2.66 s →
    # 2.22 s at sf0.1 INCLUDES that duplication and still nets 17%.
    # Values bit-identical: left-assoc + == the 0-seeded fold.
    dot = "(" + " + ".join(
        f"(CAST(a.embedding[{i}] AS DOUBLE) * CAST(b.embedding[{i}] AS DOUBLE))"
        for i in range(64)  # fixture embeddings are fixed 64-dim
    ) + ")"
    result = (
        cand.join(base.alias("a"), cand["vec_a"] == F.col("a.vec_id"))
        .join(base.alias("b"), cand["vec_b"] == F.col("b.vec_id"))
        .withColumn("cos_sim", F.expr(f"{dot} / (a.nrm * b.nrm)"))
        .filter(F.col("cos_sim") > 0.40)
        .select("vec_a", "vec_b", F.round("cos_sim", 4).alias("cos_sim"))
    )
    # materialize the (small) pair set while the base cache is live, then
    # RELEASE it (the minhash/ann_ivf template; same persisted-result
    # lifetime contract — consumers get the cached frame)
    result = result.persist(StorageLevel.DISK_ONLY)
    result.count()
    base.unpersist()
    return result


def kmeans_embeddings(spark, sf_dir):
    """Deterministic Lloyd k-means over the embedding table (2 unrolled
    iterations, k=8, seeds = vec_id 0..7) — the canonical iterative
    clustering shape for a training-data pipeline (topic bucketing /
    diversity sampling).

    Scale architecture: centroids are the TINY side — each iteration is
    a broadcast of k rows against the fact table (crossJoin with
    ``F.broadcast``; k·|V| candidate rows, argmin via min(struct) with
    map-side partial aggregation — no row_number sort), then a
    posexplode + (cid, dim) hash agg for the update.  Per CLAUDE.md
    gotcha 15 a long Lloyd loop must checkpoint per round; with the
    2 fixed iterations here each round's plan is bounded and the
    whole thing stays one lazy DAG.

    Oracle parity: squared-L2 folds are sequential in both engines
    (aggregate/zip_with vs list_sum/list_transform — the proven ANN
    pattern); the only cross-row float reduce is the centroid AVG,
    rounded to 6dp in BOTH engines before iteration 2 (full-mantissa
    values ⇒ no boundary ties), so assignments match exactly."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("emb")
    )
    d2 = (
        "aggregate(zip_with(emb, cent, (x, c) -> (x - c) * (x - c)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )

    def assign(vectors, cents):
        return (
            vectors.crossJoin(F.broadcast(cents))
            .withColumn("_d2", F.expr(d2))
            .groupBy("vec_id")
            .agg(F.min(F.struct("_d2", "cid")).alias("_m"))
            .select("vec_id", F.col("_m.cid").alias("cid"))
        )

    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("emb").alias("cent")
    )
    # iteration 1 updates the centroids; iteration 2 is the final assign
    cents = (
        assign(emb, cents).join(emb, "vec_id")
        .select("cid", F.posexplode("emb").alias("pos", "x"))
        .groupBy("cid", "pos")
        .agg(F.round(F.avg("x"), 6).alias("c"))
        .groupBy("cid")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(pos, c))), s -> s.c)"
            ).alias("cent")
        )
    )
    final = assign(emb, cents)
    norm = F.expr(
        "ROUND(SQRT(aggregate(cent, CAST(0 AS DOUBLE), "
        "(acc, c) -> acc + c * c)), 4)"
    )
    return (
        final.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_members"), F.min("vec_id").alias("min_vec_id"))
        .join(cents.select("cid", norm.alias("centroid_norm")), "cid")
        .select(
            F.col("cid").alias("cluster_id"), "n_members", "min_vec_id",
            "centroid_norm",
        )
    )


_PQ_M = 8  # subspaces (64 dims / 8)
_PQ_K = 16  # centroids per subspace
_PQ_TOPK = 5

# sequential squared-L2 folds (the proven kmeans/ANN parity pattern:
# aggregate/zip_with here, list_sum/list_transform in DuckDB — both
# fold left-to-right over 8 elements)
_PQ_D2_DB = (
    "aggregate(zip_with(sub, cent, (x, c) -> (x - c) * (x - c)), "
    "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)
_PQ_D2_Q = (
    "aggregate(zip_with(qsub, cent, (x, c) -> (x - c) * (x - c)), "
    "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)


def ann_pq_topk(spark, sf_dir):
    """PRODUCT-QUANTIZATION ANN (the Faiss-style compressed-domain
    scan — the vector-search scale path beyond LSH/IVF): 64-dim
    embeddings split into 8 subspaces of 8 dims; a 16-centroid
    codebook per subspace (deterministic seeds = vec_id 0..15, one
    Lloyd update — the kmeans_embeddings recipe per subspace); every
    vector encodes to 8 nibbles.  Queries (vec_id ≡ 0 mod 100) build
    an 8×16 distance LUT and the database scan is a BROADCAST
    LUT equi-join on (subspace, code) + a BIGINT sum — the asymmetric
    distance computation, no float folds across rows (per-cell d2 is
    FLOORed to integer micros first, gotcha 8).  At 100 TB the codes
    table is 8 bytes/vector, codebooks broadcast, and the ADC scan is
    one map-side-combined agg per query batch — exactly the
    IVF-ADC shape.  Centroid updates ROUND(avg, 6) in both engines
    (full-mantissa values ⇒ no boundary ties; kmeans precedent).
    """
    # r06: spread — the interpreted HOF distance evaluations
    # (sub × 16 centroids per assign pass) otherwise run in the
    # single-split scan's one task (guide §2.5)
    emb = spread(_t(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("emb")
    )
    sub = (
        emb.selectExpr(
            "vec_id", "emb", f"explode(sequence(0, {_PQ_M - 1})) AS m"
        )
        .selectExpr("vec_id", "m", "slice(emb, m * 8 + 1, 8) AS sub")
        .localCheckpoint()  # five consumers: seeds, 2 assigns, update, queries
    )
    cb1 = sub.filter(f"vec_id < {_PQ_K}").selectExpr(
        "m", "CAST(vec_id AS INT) AS code", "sub AS cent"
    )

    def assign(cb):
        return (
            sub.join(F.broadcast(cb), "m")
            .withColumn("_d2", F.expr(_PQ_D2_DB))
            .groupBy("vec_id", "m")
            .agg(F.min(F.struct("_d2", "code")).alias("_mn"))
            .selectExpr("vec_id", "m", "_mn.code AS code")
        )

    cb2 = (
        assign(cb1)
        .join(sub, ["vec_id", "m"])
        .selectExpr("m", "code", "posexplode(sub) AS (pos, x)")
        .groupBy("m", "code", "pos")
        .agg(F.round(F.avg("x"), 6).alias("c"))
        .groupBy("m", "code")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(pos, c))), s -> s.c)"
            ).alias("cent")
        )
        .localCheckpoint()  # tiny (128 rows); feeds encode + LUT
    )
    codes = assign(cb2)
    q = sub.filter("vec_id % 100 = 0").selectExpr(
        "vec_id AS qid", "m", "sub AS qsub"
    )
    lut = (
        q.join(cb2, "m")
        .withColumn("_d2q", F.expr(_PQ_D2_Q))
        .selectExpr(
            "qid", "m", "code",
            "CAST(FLOOR(_d2q * 1000000) AS BIGINT) AS d2u",
        )
    )
    adc = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter("vec_id <> qid")
        .groupBy("qid", "vec_id")
        .agg(F.sum("d2u").alias("ad2_u"))
    )
    w = Window.partitionBy("qid").orderBy("ad2_u", "vec_id")
    return (
        adc.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(f"rnk <= {_PQ_TOPK}")
        .select("qid", "rnk", "vec_id", "ad2_u")
    )


def _exact_top3(spark, sf_dir):
    """``(query_id, neighbor_id)``: the exact cosine top-3 of each query
    (ann_cosine_topk), the ground truth the recall evals score against;
    checkpointed, as it feeds both the hits join and the query
    universe."""
    from . import QUERIES as _Q

    return (
        _Q["ann_cosine_topk"](spark, sf_dir)
        .filter("rnk <= 3")
        .select("query_id", "neighbor_id")
        .localCheckpoint()
    )


def _recall_at3(exact, approx):
    """Per query of ``exact``: ``n_hit``, the ``approx`` answers in its
    exact top-3, and recall@3 in FLOOR mils (0 for a query with no
    hit)."""
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    qs = exact.select("query_id").distinct()
    return qs.join(hits, "query_id", "left").selectExpr(
        "query_id",
        "CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit",
        "CAST(FLOOR(COALESCE(n_hit, 0) * 1000 / 3) AS BIGINT) AS recall_mils",
    )


def ann_recall_eval(spark, sf_dir):
    """ANN INDEX-QUALITY EVALUATION — recall@3 of the IVF index against
    the exact brute-force baseline, per query.  This is the eval stage
    a real ANN deployment runs before trusting an index: the exact
    top-3 (ann_cosine_topk, broadcast-bounded ground truth) joined
    against the IVF answers (ann_ivf_topk) on (query, neighbor);
    recall in integer mils.  Queries whose IVF cell misses true
    neighbors show < 1000 — the measured cost of the bucketing
    approximation, not a bug (the oracle composes the SAME two
    certified twins, so the number is pinned exactly).
    """
    from . import QUERIES as _Q

    exact = _exact_top3(spark, sf_dir)
    ivf = (
        _Q["ann_ivf_topk"](spark, sf_dir)
        .filter("query_id < 10 AND rnk <= 3")
        .select("query_id", "neighbor_id")
    )
    return _recall_at3(exact, ivf)


# SQ8 SPEC (shared with the oracle): per-tensor scalar quantization
# q = clamp(FLOOR((x - mn) * 255 / (mx - mn)), 0, 255) over the GLOBAL
# component range; identical FLOOR chain text in both engines (IEEE).
_SQ8_Q = (
    "transform({col}, x -> CAST(LEAST(GREATEST("
    "FLOOR((CAST(x AS DOUBLE) - CAST(mn AS DOUBLE)) * 255.0 "
    "/ (CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE))), "
    "CAST(0 AS DOUBLE)), CAST(255 AS DOUBLE)) AS BIGINT))"
)


def ann_sq8_recall(spark, sf_dir):
    """SQ8 SCALAR-QUANTIZATION ANN + recall eval — the third index
    family next to IVF and PQ (Faiss SQ8 analogue): embeddings
    compress to one byte per component against the global component
    range, candidate ranking runs on INTEGER quantized dots (qcos =
    qdot / (|qa||qb|), a double derived from exact BIGINTs — IEEE-
    identical in both engines), and recall@3 is measured against the
    exact cosine baseline the same way ann_recall_eval certifies IVF.
    At scale the quantized table is 64 bytes/vector and the ranking
    never touches floats until the final normalization.  The pair scan
    is broadcast-bounded (<=10 query rows) exactly like the exact
    baseline it is scored against."""
    emb = _t(spark, sf_dir, "embeddings")
    rng_row = emb.selectExpr("explode(embedding) AS v").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    q = emb.join(F.broadcast(rng_row)).selectExpr(
        "vec_id", _SQ8_Q.format(col="embedding") + " AS qv"
    )
    qn = q.selectExpr(
        "vec_id", "qv",
        "aggregate(qv, CAST(0 AS BIGINT), (a, x) -> a + x * x) AS q2",
    ).localCheckpoint()  # quantized table: both sides of the pair scan
    qq = F.broadcast(qn.filter("vec_id < 10")).alias("a")
    pairs = (
        qq.crossJoin(qn.alias("b"))
        .filter("a.vec_id <> b.vec_id AND a.q2 > 0 AND b.q2 > 0")
        .selectExpr(
            "a.vec_id AS query_id", "b.vec_id AS neighbor_id",
            "aggregate(zip_with(a.qv, b.qv, (x, y) -> x * y), "
            "CAST(0 AS BIGINT), (acc, z) -> acc + z) AS qdot",
            "a.q2 AS qa2", "b.q2 AS qb2",
        )
        .selectExpr(
            "query_id", "neighbor_id",
            "CAST(qdot AS DOUBLE) / (SQRT(CAST(qa2 AS DOUBLE)) "
            "* SQRT(CAST(qb2 AS DOUBLE))) AS qcos",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc(), F.col("neighbor_id").asc()
    )
    approx = (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter("rnk <= 3")
        .select("query_id", "neighbor_id")
    )
    exact = _exact_top3(spark, sf_dir)
    return _recall_at3(exact, approx)


_PCA_DIM = 64
_PCA_ROUNDS = 8
# covariance damping keeps the matvec far inside int64: |q| <= ~530
# (mils of a [-0.53, 0.46] embedding), C_jk <= rows * 2.8e5, and
# M = FLOOR(C / 4096) keeps 64 * M * 1e6 <= ~2e15 even at sf100.
_PCA_DAMP = 4096.0


def _pca_cov_partial(it):
    """mapInPandas partial covariance: per-batch int64 outer-product
    accumulation (the map-side-combine a 100 TB covariance needs — the
    shuffle carries 64x64 partial matrices, never rows).  Quantization
    matches the oracle text exactly: float64 widening FIRST, then
    FLOOR(x * 1000 + 0.5)."""
    import numpy as np
    import pandas as pd

    acc = np.zeros((_PCA_DIM, _PCA_DIM), dtype=np.int64)
    seen = False
    for pdf in it:
        if not len(pdf):
            continue
        arr = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        q = np.floor(arr * 1000.0 + 0.5).astype(np.int64)
        acc += q.T @ q
        seen = True
    if seen:
        j, k = np.meshgrid(
            np.arange(1, _PCA_DIM + 1), np.arange(1, _PCA_DIM + 1),
            indexing="ij",
        )
        yield pd.DataFrame(
            {"j": j.ravel(), "k": k.ravel(), "c": acc.ravel()}
        )


def pca_power_iteration(spark, sf_dir):
    """Distributed PCA, INTEGER-EXACT power iteration: 8 rounds toward
    the top principal direction of the (uncentered) quantized-embedding
    second-moment matrix.  The deliverable is the exact k-round iterate
    (deterministic, oracle-pinned); on near-isotropic data (the harness
    embeddings' eigengap ratio is ~0.93) full eigenvector isolation
    needs more rounds — rounds are the knob, each round is one tiny
    join.  The invariant gate (tests/test_r5b.py) checks bit-equality
    against an independent dense numpy run of the same recurrence plus
    Rayleigh-quotient progress (>0.9 of the top eigenvalue by round 8).  Stage 1 is the scale stage — mapInPandas partial
    covariance (int64 outer products, exact regardless of partitioning
    or fold order), one 4096-row final agg.  Stage 2 runs 8 power-
    iteration rounds RELATIONALLY over the tiny (j,k,m) matrix:
    matvec = equi-join + SUM, then per-round renormalization to
    micro-units via MAX(ABS(w)) OVER () — a 64-row window, so the
    single partition is by construction, not by accident.  Every
    quantity is BIGINT; the one double divide per round is the shared
    FLOOR(1e6*w/max) text, so both engines walk identical integer
    states (the pagerank argument).  Output: the 64 loadings of v8.
    Oracle: identical unrolled LINEAR CTE chain (each round references
    only its predecessor once — window, not scalar subquery, for the
    max; the shortest_path_weighted lesson)."""
    emb = _t(spark, sf_dir, "embeddings").select("embedding")
    cov = (
        emb.mapInPandas(_pca_cov_partial, "j int, k int, c bigint")
        .groupBy("j", "k")
        .agg(F.expr("CAST(SUM(c) AS BIGINT) AS s"))
        .selectExpr(
            "j", "k",
            f"CAST(FLOOR(CAST(s AS DOUBLE) / {_PCA_DAMP}) AS BIGINT) AS m",
        )
        .localCheckpoint()  # referenced every round
    )
    # r06: loop under _drain_confs (codegen off + 8 partitions,
    # restored) — per-round plan churn, the _components_jump lesson
    with _drain_confs(spark):
        v = cov.select("j").distinct().selectExpr(
            "j", "CAST(1000000 AS BIGINT) AS v"
        )
        for _ in range(_PCA_ROUNDS):
            w = (
                cov.join(v.selectExpr("j AS k2", "v"), F.col("k") == F.col("k2"))
                .groupBy("j")
                .agg(F.expr("CAST(SUM(m * v) AS BIGINT) AS w"))
            )
            v = w.selectExpr(
                "j",
                "CAST(FLOOR(1000000.0 * w / MAX(ABS(w)) OVER ()) AS BIGINT) AS v",
            ).localCheckpoint()
    return v.selectExpr("j", "v AS loading")


def _quantized_components(emb):
    """``(vec_id, label, j, qx)``: one row per embedding component,
    ``qx`` the component in mils rounded half up.  The quantize runs
    through DOUBLE (the PCA-oracle form — float*int arithmetic would
    round differently across engines)."""
    return emb.selectExpr(
        "vec_id", "label", "posexplode(embedding) AS (j, e)"
    ).selectExpr(
        "vec_id", "label", "j",
        "CAST(FLOOR(CAST(e AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS qx",
    )


def embeddings_davies_bouldin(spark, sf_dir):
    """DAVIES-BOULDIN INDEX of the embeddings' labeled clustering —
    the clustering-quality eval next to kmeans and the ANN recall
    evals, chosen over silhouette because it is CENTROID-based
    (O(n*k) — no pairwise matrix at any scale).  Components quantize
    to mils BIGINTs; centroids are integer DIV means; scatters S_i and
    centroid separations M_ij are FLOOR(SQRT(exact int64 sums)) mils;
    R_ij = FLOOR(1000 (S_i + S_j) / M_ij) and D_i = max_j R_ij stay
    all-integer.

    Plan shape: one posexplode (n x 64 rows) -> (label, component)
    hash agg -> broadcast centroid join back -> per-vector distance
    agg -> label rollup; the k x k centroid table is driver-tiny."""
    emb = _t(spark, sf_dir, "embeddings")
    comp = _quantized_components(emb)
    cent = comp.groupBy("label", "j").agg(
        F.sum("qx").alias("s"), F.count(F.lit(1)).alias("m")
    ).selectExpr("label", "j", "s DIV m AS c")
    dists = (
        comp.join(cent, ["label", "j"])
        .groupBy("vec_id", "label")
        .agg(F.sum(F.expr("(qx - c) * (qx - c)")).alias("dsq"))
        .selectExpr(
            "label",
            "CAST(FLOOR(SQRT(CAST(dsq AS DOUBLE))) AS BIGINT) AS dist",
        )
    )
    scatter = dists.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.expr("SUM(dist) DIV COUNT(*)").alias("s_mils"),
    )
    csep = (
        cent.selectExpr("label AS la", "j", "c AS ca")
        .join(cent.selectExpr("label AS lb", "j", "c AS cb"), "j")
        .filter("la <> lb")
        .groupBy("la", "lb")
        .agg(F.sum(F.expr("(ca - cb) * (ca - cb)")).alias("msq"))
        .selectExpr(
            "la", "lb",
            "CAST(FLOOR(SQRT(CAST(msq AS DOUBLE))) AS BIGINT) AS m_mils",
        )
    )
    r = (
        csep.join(scatter.selectExpr("label AS la", "s_mils AS sa"), "la")
        .join(scatter.selectExpr("label AS lb", "s_mils AS sb"), "lb")
        .selectExpr(
            "la", "(1000 * (sa + sb)) DIV m_mils AS r_mils"
        )
        .groupBy("la")
        .agg(F.max("r_mils").alias("d_mils"))
    )
    return (
        scatter.selectExpr("label AS la", "n_members", "s_mils")
        .join(r, "la")
        .selectExpr("la AS label", "n_members", "s_mils", "d_mils")
    )


def embeddings_silhouette(spark, sf_dir):
    """SIMPLIFIED SILHOUETTE of the embeddings' labeled clustering —
    the per-point companion to embeddings_davies_bouldin: a(i) = the
    point's distance to its OWN centroid, b(i) = min distance to any
    OTHER centroid, s(i) = (b - a) / max(a, b).  Centroid-based, so
    O(n*k) with k = |labels| — no pairwise matrix at any scale.

    Exactness: components quantize to mils BIGINTs, centroids are
    integer DIV means, distances are FLOOR(SQRT(exact int64 sums))
    mils, and s lands in mils via one integer DIV (DuckDB // and
    Spark DIV both truncate toward zero, negatives included).

    Plan shape: posexplode (n x 64) -> broadcast the k x 64 centroid
    table -> x k fanout join on component index -> two stacked hash
    aggs (per vector-centroid, then per vector) -> label rollup."""
    emb = _t(spark, sf_dir, "embeddings")
    comp = _quantized_components(emb)
    cent = (
        comp.groupBy("label", "j")
        .agg(F.sum("qx").alias("s"), F.count(F.lit(1)).alias("m"))
        .selectExpr("label AS clabel", "j", "s DIV m AS c")
    )
    dists = (
        comp.join(F.broadcast(cent), "j")
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum(F.expr("(qx - c) * (qx - c)")).alias("dsq"))
        .selectExpr(
            "vec_id", "label", "clabel",
            "CAST(FLOOR(SQRT(CAST(dsq AS DOUBLE))) AS BIGINT) AS dist",
        )
    )
    ab = dists.groupBy("vec_id", "label").agg(
        F.min(F.expr("CASE WHEN clabel = label THEN dist END")).alias("a"),
        F.min(F.expr("CASE WHEN clabel <> label THEN dist END")).alias("b"),
    )
    s = ab.filter("GREATEST(a, b) > 0").selectExpr(
        "label", "(1000 * (b - a)) DIV GREATEST(a, b) AS s_mils"
    )
    return (
        s.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("s_mils").alias("sum_s_mils"),
            F.expr("SUM(s_mils) DIV COUNT(*)").alias("mean_s_mils"),
        )
        .selectExpr(
            "label", "CAST(n_members AS BIGINT) AS n_members",
            "CAST(sum_s_mils AS BIGINT) AS sum_s_mils",
            "CAST(mean_s_mils AS BIGINT) AS mean_s_mils",
        )
    )


def ann_matryoshka_recall(spark, sf_dir):
    """MATRYOSHKA-TRUNCATION RECALL — how much of the exact 64-dim
    top-3 neighborhood survives when queries run on the FIRST 16
    DIMENSIONS only (the truncation trade every MRL-style embedding
    deployment measures before shipping the cheap index): both sides
    are the certified broadcast-bounded brute-force cosine (the
    truncated side just slices the arrays), joined on (query,
    neighbor); recall in integer mils.  The oracle composes the same
    two rankings in DuckDB, so the measured truncation loss is pinned
    exactly."""
    exact = _exact_top3(spark, sf_dir)
    emb16 = _t(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "slice(embedding, 1, 16) AS embedding"
    )
    trunc = (
        _cosine_ranked(emb16)
        .filter("rnk <= 3")
        .select("query_id", "neighbor_id")
    )
    hits = (
        exact.join(trunc, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        exact.select("query_id").distinct()
        .join(hits, "query_id", "left")
        .selectExpr(
            "query_id",
            "CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit",
            "CAST(COALESCE(n_hit, 0) * 1000 DIV 3 AS BIGINT)"
            " AS recall_mils",
        )
        .orderBy("query_id")
    )


QUERIES = {
    "embedding_norms": embedding_norms,
    "ann_cosine_topk": ann_cosine_topk,
    "embedding_lsh_buckets": embedding_lsh_buckets,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_ivf_multiprobe": ann_ivf_multiprobe,
    "embedding_cosine_neardup": embedding_cosine_neardup,
    "kmeans_embeddings": kmeans_embeddings,
    "ann_sq8_recall": ann_sq8_recall,
    "ann_recall_eval": ann_recall_eval,
    "ann_pq_topk": ann_pq_topk,
    "pca_power_iteration": pca_power_iteration,
    "embeddings_davies_bouldin": embeddings_davies_bouldin,
    "embeddings_silhouette": embeddings_silhouette,
    "ann_matryoshka_recall": ann_matryoshka_recall,
}
