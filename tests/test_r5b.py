"""INDEPENDENT invariant gates for the wave-5 operators.

The DuckDB oracles for these queries share fragments or recurrences
with the engine; these tests check each result against a SECOND,
independent formulation (dense numpy linear algebra, brute-force
pandas recomputes, analytic identities) so a shared-fragment bug
cannot hide.
"""

import numpy as np
import pandas as pd
import pytest

SF = "/root/testdata/sf0.001"


def _pdf(df) -> pd.DataFrame:
    return df.toPandas()


def test_pca_matches_dense_integer_recurrence(spark):
    """The relational power iteration must match an INDEPENDENT dense
    numpy implementation of the same integer recurrence BIT-FOR-BIT
    (both are exact integer arithmetic, so any divergence is a bug in
    one of the two data paths), and the iterate must make real
    progress toward the principal direction: its Rayleigh quotient
    must strictly dominate v0's and sit near the top eigenvalue.  (An
    exact-eigenvector equality gate is NOT appropriate here: the
    fixture embeddings are near-isotropic — eigengap ratio ~0.93 — so
    8 rounds genuinely shouldn't isolate the top eigenvector.)"""
    from sdg_engine.queries.ann import (
        _PCA_DAMP,
        _PCA_DIM,
        _PCA_ROUNDS,
        pca_power_iteration,
    )

    out = _pdf(pca_power_iteration(spark, SF)).sort_values("j")
    got = out["loading"].to_numpy().astype(np.int64)
    emb = _pdf(spark.read.parquet(f"{SF}/embeddings.parquet").select("embedding"))
    arr = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    q = np.floor(arr * 1000.0 + 0.5).astype(np.int64)
    m = np.floor((q.T @ q).astype(np.float64) / _PCA_DAMP).astype(np.int64)
    assert m.shape == (_PCA_DIM, _PCA_DIM)
    v = np.full(_PCA_DIM, 1_000_000, dtype=np.int64)
    for _ in range(_PCA_ROUNDS):
        w = m @ v
        v = np.floor(1e6 * w / np.max(np.abs(w))).astype(np.int64)
    assert (got == v).all()

    def rayleigh(x):
        x = x.astype(np.float64)
        return (x @ m @ x) / (x @ x)

    v0 = np.full(_PCA_DIM, 1.0)
    top_eval = np.linalg.eigvalsh(m.astype(np.float64))[-1]
    assert rayleigh(v) > rayleigh(v0)
    assert rayleigh(v) > 0.9 * top_eval


def test_hits_matches_dense_matvec(spark):
    """Top hubs/authorities must match a dense numpy run of the same
    unnormalized recurrence (independent: adjacency matrix powers)."""
    from sdg_engine.queries.graph import _HITS_ITERS, hits_roads
    from sdg_engine.harness import segments_df
    from sdg_engine.queries.graph import _PR_NODE_A, _PR_NODE_B

    out = _pdf(hits_roads(spark, SF))
    segs = _pdf(
        segments_df(spark, SF)
        .withColumnRenamed("by", "byy")
        .selectExpr(f"{_PR_NODE_A} AS src", f"{_PR_NODE_B} AS dst")
    )
    segs = segs[segs.src != segs.dst]
    nodes = sorted(set(segs.src) | set(segs.dst))
    ix = {n: i for i, n in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)), dtype=np.int64)
    for s, d in zip(segs.src, segs.dst):
        A[ix[s], ix[d]] += 1
    h = np.ones(len(nodes), dtype=np.int64)
    for _ in range(_HITS_ITERS):
        a = A.T @ h
        h = A @ a
    for role, vec in (("hub", h), ("authority", a)):
        got = out[out.role == role].sort_values("rnk")
        order = sorted(range(len(nodes)), key=lambda i: (-vec[i], nodes[i]))
        want = [(nodes[i], vec[i]) for i in order[:10]]
        assert list(zip(got.node, got.score)) == want, role


def test_zipf_slope_closed_form(spark):
    """slope_micros must equal the exact-rational closed form over the
    engine's own returned integer sums (Fraction — no float division)."""
    from fractions import Fraction
    from math import floor

    from sdg_engine.queries.text import zipf_word_slope

    row = _pdf(zipf_word_slope(spark, SF)).iloc[0]
    n, sx, sy, sxy, sxx = (int(row[c]) for c in ("n_words", "sx", "sy", "sxy", "sxx"))
    exact = Fraction(1_000_000 * (n * sxy - sx * sy), n * sxx - sx * sx)
    assert int(row["slope_micros"]) == floor(exact)
    # natural-ish corpus: slope should be negative (freq falls with rank)
    assert row["slope_micros"] < 0


def test_ams_estimate_within_band(spark):
    """AMS theory: Var(est_j) <= 2*F2^2, so the 16-sketch mean has
    sigma <= F2 * sqrt(2/16); assert the estimate lands within 3
    sigma (md5 signs are fixed, so this is a determinism-backed check
    like the HLL band gate)."""
    from sdg_engine.queries.relational import ams_f2_sketch

    row = _pdf(ams_f2_sketch(spark, SF)).iloc[0]
    f2, est = int(row["f2_exact"]), int(row["f2_ams"])
    sigma = f2 * (2.0 / 16) ** 0.5
    assert abs(est - f2) <= 3 * sigma, (f2, est)


def test_theil_sen_matches_bruteforce(spark):
    """Median slope must equal a brute-force numpy recompute (all
    pairwise slopes, numpy lower median) over the same hourly series."""
    from sdg_engine.queries.relational import events_theil_sen

    row = _pdf(events_theil_sen(spark, SF)).iloc[0]
    ev = _pdf(spark.read.parquet(f"{SF}/events.parquet").selectExpr(
        "CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP)) / 3600000000)"
        " AS LONG) AS h"))
    hourly = ev.groupby("h").size()
    h = hourly.index.to_numpy(dtype=np.int64)
    x = hourly.to_numpy(dtype=np.int64)
    i, j = np.triu_indices(len(h), k=1)
    slopes = np.floor(1e6 * (x[j] - x[i]) / (h[j] - h[i])).astype(np.int64)
    slopes.sort()
    want = slopes[(len(slopes) + 1) // 2 - 1]
    assert int(row["n_pairs"]) == len(slopes)
    assert int(row["median_slope_micros"]) == want


def test_mad_matches_bruteforce(spark):
    from sdg_engine.queries.relational import events_mad

    row = _pdf(events_mad(spark, SF)).iloc[0]
    ev = _pdf(spark.read.parquet(f"{SF}/events.parquet").selectExpr(
        "CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP)) / 3600000000)"
        " AS LONG) AS h"))
    x = np.sort(ev.groupby("h").size().to_numpy(dtype=np.int64))
    med = x[(len(x) + 1) // 2 - 1]
    d = np.sort(np.abs(ev.groupby("h").size().to_numpy(dtype=np.int64) - med))
    mad = d[(len(d) + 1) // 2 - 1]
    assert (int(row["median_x"]), int(row["mad"])) == (med, mad)


def test_scd2_conserves_events_and_chains(spark):
    """Interval ledger invariants: open intervals == users (every user
    has exactly one current state); interval count == total state
    changes + users; closed durations are non-negative."""
    from sdg_engine.queries.relational import scd2_user_state

    out = _pdf(scd2_user_state(spark, SF))
    ev = _pdf(spark.read.parquet(f"{SF}/events.parquet").selectExpr(
        "user_id", "event_type",
        "unix_micros(CAST(ts AS TIMESTAMP)) AS us", "event_id"))
    ev = ev.sort_values(["user_id", "us", "event_id"])
    n_users = ev.user_id.nunique()
    chg = (
        (ev.event_type != ev.groupby("user_id").event_type.shift())
    ).sum()  # first row per user counts as a change vs NaN
    assert int(out.n_current.sum()) == n_users
    assert int(out.n_intervals.sum()) == int(chg)
    assert (out.closed_dur_us >= 0).all()


def test_recursive_chain_anchors_and_conservation(spark):
    """Depth-1 rows == customers with >= 1 order; chain counts are
    non-increasing with depth; run-cents at depth 1 equal the sum of
    each customer's first-order cents (pandas recompute)."""
    from sdg_engine.queries.relational import recursive_order_chain

    out = _pdf(recursive_order_chain(spark, SF)).sort_values("depth")
    orders = _pdf(spark.read.parquet(f"{SF}/orders.parquet").selectExpr(
        "o_custkey", "o_orderkey", "o_orderdate",
        "CAST(FLOOR(o_totalprice * 100 + 0.5) AS LONG) AS cents"))
    orders = orders.sort_values(["o_custkey", "o_orderdate", "o_orderkey"])
    first = orders.groupby("o_custkey").first()
    d1 = out[out.depth == 1].iloc[0]
    assert int(d1.n_chains) == len(first)
    assert int(d1.sum_run_cents) == int(first.cents.sum())
    assert (out.n_chains.to_numpy()[1:] <= out.n_chains.to_numpy()[:-1]).all()


def test_unpivot_value_conservation(spark):
    from sdg_engine.queries.relational import unpivot_order_metrics

    out = _pdf(unpivot_order_metrics(spark, SF))
    piv = out.pivot(index="o_orderstatus", columns="metric", values="val")
    orders = _pdf(spark.read.parquet(f"{SF}/orders.parquet").selectExpr(
        "o_orderstatus", "CAST(FLOOR(o_totalprice * 100 + 0.5) AS LONG) AS c"))
    g = orders.groupby("o_orderstatus").c
    assert (piv["n_orders"] == g.size()).all()
    assert (piv["sum_cents"] == g.sum()).all()
    assert (piv["max_cents"] == g.max()).all()


def test_collation_counts_consistent(spark):
    from sdg_engine.queries.text import collation_token_dedup

    row = _pdf(collation_token_dedup(spark, SF)).iloc[0]
    assert 0 < row.n_ci <= row.n_cs <= row.n_tokens
