"""r03 training-pipeline operators: property tests beyond the DuckDB
oracles (which pin exact values at sf0.01) — these pin the *semantics*
that the oracle formulation itself can't express."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_weighted_cost_uniform_reduces_to_chamfer():
    """A2 full: friction ≡ 1 must reproduce the 3-4 chamfer transform
    BIT-FOR-BIT (same sweep ops, prefix sums of constant 3.0 are the
    exact integers arange·3)."""
    import numpy as np

    from sdg_engine.ops.raster import chamfer_distance_batch, weighted_cost_batch

    rng = np.random.default_rng(11)
    masks = rng.random((5, 29, 37)) < 0.05
    masks[0] = False
    masks[0, 14, 18] = True
    got = weighted_cost_batch(masks, np.ones(masks.shape))
    want = chamfer_distance_batch(masks)
    assert (got == want).all()


def test_weighted_cost_matches_dijkstra():
    """A2 full vs a genuinely different algorithm: brute-force Dijkstra
    on the 8-neighbour graph with friction-mean edge weights.  The
    iterated sweeps must converge to the same fixpoint (tolerance for
    float association order, which differs between prefix-sum sweeps
    and path-order accumulation)."""
    import heapq

    import numpy as np

    from sdg_engine.ops.raster import weighted_cost_batch

    def dijkstra(mask, f):
        h, w = mask.shape
        dist = np.full((h, w), np.inf)
        pq = []
        for r, c in zip(*np.nonzero(mask)):
            dist[r, c] = 0.0
            heapq.heappush(pq, (0.0, int(r), int(c)))
        while pq:
            d, r, c = heapq.heappop(pq)
            if d > dist[r, c]:
                continue
            for dr in (-1, 0, 1):
                for dc in (-1, 0, 1):
                    if dr == 0 and dc == 0:
                        continue
                    rr, cc = r + dr, c + dc
                    if 0 <= rr < h and 0 <= cc < w:
                        base = 4.0 if dr and dc else 3.0
                        nd = d + base * (f[r, c] + f[rr, cc]) / 2.0
                        if nd < dist[rr, cc]:
                            dist[rr, cc] = nd
                            heapq.heappush(pq, (nd, rr, cc))
        return dist / 3.0

    rng = np.random.default_rng(23)
    for _ in range(5):
        mask = rng.random((22, 26)) < 0.04
        if not mask.any():
            mask[11, 13] = True
        # smooth friction in [1, 3]: a blurred random field
        f = rng.random((22, 26))
        for _s in range(3):
            f = (f + np.roll(f, 1, 0) + np.roll(f, -1, 0)
                 + np.roll(f, 1, 1) + np.roll(f, -1, 1)) / 5.0
        f = 1.0 + 2.0 * (f - f.min()) / (f.max() - f.min())
        got = weighted_cost_batch(mask[None], f[None])[0]
        want = dijkstra(mask, f)
        assert np.allclose(got, want, rtol=1e-9, atol=1e-9)


def test_weighted_cost_twin_matches_engine():
    """The golden generator's per-tile twin equals the engine's batched
    form bit-for-bit (slab ops vs 1-D ops, same IEEE sequence)."""
    import importlib.util
    import os
    import sys

    import numpy as np

    from sdg_engine.ops.raster import weighted_cost_batch

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                        "scripts", "make_goldens.py")
    spec = importlib.util.spec_from_file_location("make_goldens", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("make_goldens", mod)
    spec.loader.exec_module(mod)
    rng = np.random.default_rng(31)
    masks = rng.random((3, 33, 17)) < 0.06
    fr = 1.0 + rng.random((3, 33, 17))
    got = weighted_cost_batch(masks, fr)
    for k in range(3):
        m = masks[k].copy()
        if not m.any():
            continue
        assert (mod._weighted_cost_twin(m, fr[k]) == got[k]).all()


def test_kmeans_lloyd_monotonicity(spark):
    """Each Lloyd iteration cannot increase total within-cluster squared
    distance (assignment and update steps are both argmin/mean optimal).
    Run the query's own building blocks for 1 vs 2 iterations."""
    from sdg_engine.queries.ann import kmeans_embeddings

    def total_ss(iters):
        # re-run the query with k fixed and varying iterations, summing
        # n_members-weighted... instead: recompute SS directly
        emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
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
                .select(
                    "vec_id",
                    F.col("_m.cid").alias("cid"),
                    F.col("_m._d2").alias("d2"),
                )
            )

        cents = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").cast("int").alias("cid"), F.col("emb").alias("cent")
        )
        for _ in range(iters - 1):
            a = assign(emb, cents)
            cents = (
                a.join(emb, "vec_id")
                .select("cid", F.posexplode("emb").alias("pos", "x"))
                .groupBy("cid", "pos")
                .agg(F.avg("x").alias("c"))
                .groupBy("cid")
                .agg(
                    F.expr(
                        "transform(sort_array(collect_list(struct(pos, c))), s -> s.c)"
                    ).alias("cent")
                )
            )
        return assign(emb, cents).agg(F.sum("d2")).first()[0]

    ss1 = total_ss(1)
    ss2 = total_ss(2)
    assert ss2 <= ss1 + 1e-9, (ss1, ss2)


def test_kmeans_query_partitions_all_vectors(spark):
    from sdg_engine.queries.ann import kmeans_embeddings

    res = kmeans_embeddings(spark, SF).toPandas()
    n_vecs = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    assert res["n_members"].sum() == n_vecs
    assert res["cluster_id"].between(0, 7).all()


def test_sample_stratified_exact_quotas(spark):
    """Quotas are exact per stratum (capped by stratum size) and the
    draw is stable across invocations."""
    from sdg_engine.queries.text import sample_stratified

    got = sample_stratified(spark, SF).toPandas()
    langs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .groupBy("lang")
        .count()
        .toPandas()
        .set_index("lang")["count"]
    )
    for lang, grp in got.groupby("lang"):
        quota = 20 if lang == "en" else 10
        assert len(grp) == min(quota, int(langs[lang]))
        assert sorted(grp["smp_rank"]) == list(range(1, len(grp) + 1))
    again = sample_stratified(spark, SF).toPandas()
    a = got.sort_values(["lang", "doc_id"]).reset_index(drop=True)
    b = again.sort_values(["lang", "doc_id"]).reset_index(drop=True)
    assert a.equals(b)


def test_embedding_cosine_neardup_pairs_are_verified(spark):
    """Every emitted pair really exceeds the threshold (numpy check) and
    shares at least one LSH band (candidate condition)."""
    import numpy as np

    from sdg_engine.queries.ann import embedding_cosine_neardup

    got = embedding_cosine_neardup(spark, SF).toPandas()
    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", "embedding")
        .toPandas()
        .set_index("vec_id")["embedding"]
    )
    for _, r in got.iterrows():
        a = np.asarray(emb[r.vec_a], dtype=np.float64)
        b = np.asarray(emb[r.vec_b], dtype=np.float64)
        cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert cos > 0.40 - 1e-9
        assert abs(cos - r.cos_sim) < 1e-3  # rounded column


def test_thumbnails_decode_and_jpg_closeness(spark):
    """Thumb PNGs really decode to 16x16x3; jpg thumbs (lossy source)
    stay within a few luminance units of the independent generator
    twin."""
    import numpy as np

    from sdg_engine import fixtures as FX
    from sdg_engine.codecs import decode_image
    from sdg_engine.jobs.rai import load_inputs
    from sdg_engine.ops.payload import thumbnails

    images, _roads = load_inputs(spark, 0.001)
    images = images.filter(F.col("image_id") < "img000000000060")
    got = thumbnails(images, 16, 16).toPandas()
    assert got["ok"].all()
    meta = images.select("image_id", "fmt", "w", "h").toPandas().set_index("image_id")
    for _, r in got.iterrows():
        thumb = decode_image(bytes(r.thumb), "png", 16, 16)
        assert thumb.shape == (16, 16, 3)
        if meta.loc[r.image_id, "fmt"] == "jpg":
            i = int(r.image_id[3:])
            lon, lat = FX.lonlat_of(r.image_id)
            w = int(meta.loc[r.image_id, "w"])
            px = FX.make_image_pixels(i, lon, lat, w, w).astype(np.float64)
            b = w // 16
            blocks = px.reshape(16, b, 16, b, 3).sum(axis=(1, 3)) / float(b * b)
            want = np.clip(np.rint(blocks), 0, 255)
            lum_w = (0.299 * want[:, :, 0] + 0.587 * want[:, :, 1]
                     + 0.114 * want[:, :, 2]).mean()
            assert abs(float(r.mean_lum) - float(lum_w)) < 3.0


def test_pack_sequences_two_level_prefix_equals_naive(spark):
    """The two-level prefix sum (parallel within doc_id buckets + tiny
    bucket-offset window) must equal the naive single-partition global
    window bit-for-bit, and the big table's window must be PARTITIONED
    (no 'move everything to one partition' plan)."""
    from pyspark.sql import Window

    from sdg_engine.queries.text import pack_sequences

    got = pack_sequences(spark, SF)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = F.expr("size(split(text, ' '))").cast("long")
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    naive = (
        docs.select("doc_id", toks.alias("n_tokens"))
        .withColumn("cum", F.sum("n_tokens").over(w))
        .withColumn("seq_id", F.expr("CAST(FLOOR((cum - n_tokens) / 2048) AS BIGINT)"))
        .groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
    )
    assert got.exceptAll(naive).count() + naive.exceptAll(got).count() == 0
    plan = got._jdf.queryExecution().executedPlan().toString()
    # the doc-level window is keyed by the bucket column; only the tiny
    # bucket-offset window (one row per 4096 doc ids) is unpartitioned
    assert "_b" in plan  # bucket key present in the window/exchange keys
