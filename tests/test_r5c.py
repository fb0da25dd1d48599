"""INDEPENDENT invariant gates for the wave-6 operators.

The DuckDB oracles for these queries share expression fragments with
the engine; these tests recompute each result through a SECOND path
(pandas rank(), collections.Counter, numpy brute force) so a
shared-fragment bug cannot hide.
"""

import math
import re
from collections import Counter

import numpy as np
import pandas as pd

SF = "/root/testdata/sf0.001"


def _pdf(df) -> pd.DataFrame:
    return df.toPandas()


def _hourly(spark, col_filter=None):
    ev = _pdf(spark.read.parquet(f"{SF}/events.parquet"))
    ev["h"] = (
        ev.ts.astype("datetime64[ns]").astype("int64") // 1000
    ) // 3_600_000_000
    ev["cents"] = np.floor(ev.value * 100 + 0.5).astype(np.int64)
    return ev


def test_spearman_matches_pandas_rank(spark):
    from sdg_engine.queries.relational import events_spearman

    out = _pdf(events_spearman(spark, SF)).iloc[0]
    ev = _hourly(spark)
    ev = ev[ev.event_type.isin(["view", "click"])]
    piv = ev.pivot_table(
        index="h", columns="event_type", values="cents", aggfunc="sum"
    ).dropna()
    n = len(piv)
    r2v = (2 * piv["view"].rank(method="average")).astype(np.int64)
    r2c = (2 * piv["click"].rank(method="average")).astype(np.int64)
    s = int(((r2v - r2c) ** 2).sum())
    assert int(out.n_hours) == n
    assert int(out.sum_d2_sq) == s
    assert int(out.rho_micros) == math.floor(
        1000000.0 - (1500000.0 * s) / (n * (n * n - 1))
    )
    # rank correlation of two noisy series must land strictly inside
    # the open interval (-1, 1)
    assert -1_000_000 < int(out.rho_micros) < 1_000_000


def test_runs_test_matches_bruteforce(spark):
    from sdg_engine.queries.relational import events_runs_test

    out = _pdf(events_runs_test(spark, SF)).iloc[0]
    ev = _hourly(spark)
    x = ev.groupby("h").size().sort_index()
    d = x.diff().dropna()
    signs = [1 if v > 0 else -1 for v in d if v != 0]
    n_pos = sum(1 for s in signs if s == 1)
    n_neg = len(signs) - n_pos
    runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
    assert (int(out.n_pos), int(out.n_neg), int(out.n_runs)) == (
        n_pos, n_neg, runs,
    )
    nn = n_pos + n_neg
    mu = 1.0 + 2.0 * n_pos * n_neg / nn
    var = (2.0 * n_pos * n_neg * (2.0 * n_pos * n_neg - nn)
           / (float(nn) * nn * (nn - 1)))
    assert int(out.z_micros) == math.floor(
        1000000.0 * (runs - mu) / math.sqrt(var)
    )


def test_kruskal_matches_pandas_rank(spark):
    from sdg_engine.queries.relational import events_kruskal

    out = _pdf(events_kruskal(spark, SF)).iloc[0]
    ev = _hourly(spark)
    r2 = (2 * ev.cents.rank(method="average")).astype(np.int64)
    n = len(ev)
    h_micros = 0
    for g, idx in ev.groupby("event_type").groups.items():
        n_g = len(idx)
        dev = int(r2.loc[idx].sum()) - n_g * (n + 1)
        h_micros += math.floor(
            3000000.0 * dev * dev / (float(n_g) * n * (n + 1))
        )
    t = ev.cents.value_counts()
    tie_sum = int((t ** 3 - t).sum())
    assert int(out.n) == n
    assert int(out.h_micros) == h_micros
    assert int(out.tie_corr_micros) == math.floor(
        1000000.0 - 1000000.0 * tie_sum / (float(n) * n * n - n)
    )
    assert int(out.h_micros) >= 0


def test_readability_matches_python_re(spark):
    from sdg_engine.queries.text import doc_readability

    out = _pdf(doc_readability(spark, SF)).set_index("lang").sort_index()
    docs = _pdf(spark.read.parquet(f"{SF}/documents.parquet"))
    rows = []
    for _, r in docs.iterrows():
        w = len(re.findall(r"[A-Za-z]+", r.text))
        if w == 0:
            continue
        syl = len(re.findall(r"[aeiouy]+", r.text.lower()))
        s = max(1, len(re.findall(r"[.!?]+", r.text)))
        fre = (206835 - math.floor(1015.0 * w / s)
               - math.floor(84600.0 * syl / w))
        fkg = (math.floor(390.0 * w / s)
               + math.floor(11800.0 * syl / w) - 15590)
        rows.append((r.lang, fre, fkg))
    want = pd.DataFrame(rows, columns=["lang", "fre", "fkg"]).groupby("lang")
    agg = want.agg(
        n_docs=("fre", "size"), sum_fre_mils=("fre", "sum"),
        min_fre_mils=("fre", "min"), max_fre_mils=("fre", "max"),
        sum_fkg_mils=("fkg", "sum"),
    ).sort_index()
    assert (out[agg.columns].astype(np.int64).values
            == agg.astype(np.int64).values).all()


def test_repetition_matches_counter(spark):
    from sdg_engine.queries.text import doc_repetition

    out = _pdf(doc_repetition(spark, SF)).set_index("lang").sort_index()
    docs = _pdf(spark.read.parquet(f"{SF}/documents.parquet"))
    rows = []
    for _, r in docs.iterrows():
        ws = r.text.split(" ")
        bgs = Counter(zip(ws, ws[1:]))
        n_bg = sum(bgs.values())
        if n_bg == 0:
            continue
        top = (1000 * max(bgs.values())) // n_bg
        dup = (1000 * (n_bg - len(bgs))) // n_bg
        rows.append((r.lang, n_bg, top, dup))
    w = pd.DataFrame(rows, columns=["lang", "n_bg", "top", "dup"])
    agg = w.groupby("lang").agg(
        n_docs=("n_bg", "size"),
        n_repetitive=("top", lambda s: int((s >= 100).sum())),
        sum_top_mils=("top", "sum"), sum_dup_mils=("dup", "sum"),
        sum_bigrams=("n_bg", "sum"),
    ).sort_index()
    assert (out[agg.columns].astype(np.int64).values
            == agg.astype(np.int64).values).all()


def test_centroids_inside_ring_bbox(spark):
    from sdg_engine.harness import ring_edge_rows
    from sdg_engine.queries.spatial import country_centroids

    out = _pdf(country_centroids(spark, SF))
    edges = {}
    for cc, x0, y0, x1, y1 in ring_edge_rows():
        edges.setdefault(cc, []).append((x0, y0, x1, y1))
    assert len(out) == len(edges)
    for _, r in out.iterrows():
        e = np.asarray(edges[r.country_code], dtype=np.float64)
        x0, y0, x1, y1 = e[:, 0], e[:, 1], e[:, 2], e[:, 3]
        cx, cy = r.cx_microdeg / 1e6, r.cy_microdeg / 1e6
        assert x0.min() <= cx <= x0.max()
        assert y0.min() <= cy <= y0.max()
        # independent numpy shoelace twin (vector fold; the engine
        # folds through a running window — exactness differences can
        # only be the final FLOOR, so allow 1 micro)
        cr = x0 * y1 - x1 * y0
        want_cx = ((x0 + x1) * cr).sum() / (3.0 * cr.sum())
        want_cy = ((y0 + y1) * cr).sum() / (3.0 * cr.sum())
        assert abs(math.floor(want_cx * 1e6) - r.cx_microdeg) <= 1
        assert abs(math.floor(want_cy * 1e6) - r.cy_microdeg) <= 1


def test_hausdorff_matches_numpy_bruteforce(spark):
    from sdg_engine.jobs.rai import fixture_dir
    from sdg_engine.queries.spatial import roads_hausdorff

    out = _pdf(roads_hausdorff(spark, SF))
    roads = pd.read_parquet(f"{fixture_dir(0.01)}/roads.parquet")
    vq = {
        r.road_id: np.floor(
            np.asarray([(c["x"], c["y"]) for c in r.coords]) * 1e6
        ).astype(np.int64)
        for _, r in roads.iterrows()
    }
    cell = {
        r.road_id: (math.floor(r.coords[0]["x"] * 10) * 100000
                    + math.floor(r.coords[0]["y"] * 10))
        for _, r in roads.iterrows()
    }
    want = {}
    ids = sorted(vq)
    by_cell = {}
    for rid in ids:
        by_cell.setdefault(cell[rid], []).append(rid)
    for members in by_cell.values():
        for i, ra in enumerate(members):
            for rb in members[i + 1:]:
                a, b = vq[ra], vq[rb]
                d = ((a[:, None, :] - b[None, :, :]) ** 2).sum(axis=2)
                want[(ra, rb)] = int(d.min(axis=1).max())
    got = {(r.ra, r.rb): int(r.h_sq) for _, r in out.iterrows()}
    assert got == want
    assert (out.h_micro == np.floor(np.sqrt(out.h_sq.astype(float)))).all()


def test_tpi_tri_kernel_analytic():
    """Analytic gates for the TPI/TRI kernel: a constant DEM has zero
    ruggedness everywhere; a single spike of height s contributes
    8*s to its own TRI, s to each of the 8 neighbors, and TPI = 8*s at
    the spike (ridge) with the neighborhood identity sum(TPI) == 0 on
    any TOROIDAL layout replaced here by the clamp-border exactness of
    a centered spike (no border contact)."""
    from sdg_engine.ops.payload import tpi_tri_kernel

    flat = np.full((9, 9), 42_000, dtype=np.int64)
    n_px, sum_tri, max_tri, n_ridge, n_valley, chk = tpi_tri_kernel(flat)
    assert (sum_tri, max_tri, n_ridge, n_valley, chk) == (0, 0, 0, 0, 0)

    spike = flat.copy()
    spike[4, 4] += 9_000
    n_px, sum_tri, max_tri, n_ridge, n_valley, chk = tpi_tri_kernel(spike)
    assert max_tri == 8 * 9_000
    assert sum_tri == 16 * 9_000  # 8s at the spike + s at 8 neighbors
    # the spike is a ridge; its 8 neighbors each see the spike in
    # their own neighborhood, so TPI = -s there (valleys)
    assert n_ridge == 1 and n_valley == 8


def test_flow_length_matches_scalar_walk():
    """Pointer-jumped flow lengths must equal a scalar chain walk on a
    random integer DEM (exact — both paths are integer arithmetic)."""
    from sdg_engine.ops.payload import d8_flow_length, d8_targets

    rng = np.random.RandomState(7)
    lum = rng.randint(0, 255_000, size=(23, 17)).astype(np.int64)
    lens, n_sinks = d8_flow_length(lum)
    t = d8_targets(lum)
    ww = lum.shape[1]

    def walk(c):
        total = 0
        while t[c] >= 0:
            nt = int(t[c])
            dr = abs(nt // ww - c // ww)
            dc = abs(nt % ww - c % ww)
            total += 14 if (dr and dc) else 10
            c = nt
        return total

    want = np.asarray([walk(c) for c in range(lum.size)], dtype=np.int64)
    assert (lens == want).all()
    assert n_sinks == int((t < 0).sum())


def test_betweenness_matches_python_brandes(spark):
    """Top-10 betweenness must match an INDEPENDENT pure-Python Brandes
    (BFS queue + dict layers vs the engine's relational rounds) running
    the same integer-floor dependency recurrence over the same
    quantized road graph."""
    from collections import defaultdict, deque

    from sdg_engine.jobs.rai import fixture_dir
    from sdg_engine.queries.graph import _BC_HOPS, _BC_SEEDS, betweenness_roads

    out = _pdf(betweenness_roads(spark, SF))
    roads = pd.read_parquet(f"{fixture_dir(0.01)}/roads.parquet")

    def q(v):
        return math.floor(v * 10 + 0.5)

    adj = defaultdict(set)
    for _, r in roads.iterrows():
        nds = [(q(c["x"]) + 100) * 1000 + (q(c["y"]) + 100)
               for c in r.coords]
        for a, b in zip(nds, nds[1:]):
            if a != b:
                adj[a].add(b)
                adj[b].add(a)
    deg = sorted(adj, key=lambda n: (-len(adj[n]), n))
    seeds = deg[:_BC_SEEDS]
    bc = defaultdict(int)
    n_seeds = defaultdict(int)
    for s in seeds:
        hops = {s: 0}
        sigma = {s: 1}
        layers = defaultdict(list)
        dq = deque([s])
        while dq:
            u = dq.popleft()
            if hops[u] >= _BC_HOPS:
                continue
            for v in sorted(adj[u]):
                if v not in hops:
                    hops[v] = hops[u] + 1
                    sigma[v] = 0
                    layers[hops[v]].append(v)
                    dq.append(v)
                if hops[v] == hops[u] + 1:
                    sigma[v] += sigma[u]
        delta = {}
        for d in sorted(layers, reverse=True):
            for v in layers[d]:
                delta[v] = sum(
                    (sigma[v] * (1000000 + delta[w])) // sigma[w]
                    for w in adj[v]
                    if hops.get(w) == d + 1 and w in delta
                )
        for d, nodes in layers.items():
            if d >= 1:
                for v in nodes:
                    bc[v] += delta[v]
                    n_seeds[v] += 1
    want = sorted(bc.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [(int(r.node), int(r.bc_micros), int(r.n_seeds))
           for _, r in out.sort_values("rk").iterrows()]
    assert got == [(n, b, n_seeds[n]) for n, b in want]


def test_dtw_matches_numpy_band_dp(spark):
    """events_dtw must match an INDEPENDENT numpy DP (vectorized
    rolling rows over a dense cost matrix with the band masked to inf,
    vs the engine's per-cell python loops) on series recomputed with
    pandas — exact BIGINT equality."""
    from sdg_engine.queries.relational import _DTW_BAND, _DTW_DAYS, events_dtw

    out = _pdf(events_dtw(spark, SF)).set_index("event_type").sort_index()
    ev = _hourly(spark)
    ev["day"] = (
        ev.ts.astype("datetime64[ns]").astype("int64") // 1000
    ) // 86_400_000_000
    d0 = int(ev.day.min())
    nd = min(_DTW_DAYS, int(ev.day.max()) - d0 + 1)
    ev["d"] = ev.day - d0
    ev = ev[ev.d < _DTW_DAYS]
    series = {}
    for t, grp in ev.groupby("event_type"):
        s = np.zeros(nd, dtype=np.int64)
        agg = grp.groupby("d").cents.sum()
        s[agg.index.to_numpy()] = agg.to_numpy()
        series[t] = s
    b = series["view"]
    inf = 1 << 62
    for t, a in series.items():
        if t == "view":
            continue
        cost = np.abs(a[:, None] - b[None, :])
        ii, jj = np.indices((nd, nd))
        cost = np.where(np.abs(ii - jj) <= _DTW_BAND, cost, inf)
        dp = np.full((nd, nd), inf, dtype=np.int64)
        dp[0, 0] = cost[0, 0]
        for i in range(nd):
            for j in range(nd):
                if i == 0 and j == 0 or cost[i, j] >= inf:
                    continue
                best = min(
                    dp[i - 1, j] if i else inf,
                    dp[i, j - 1] if j else inf,
                    dp[i - 1, j - 1] if i and j else inf,
                )
                dp[i, j] = cost[i, j] + best
        assert int(out.loc[t].dtw_cost) == int(dp[nd - 1, nd - 1]), t
        assert int(out.loc[t].n_days) == nd


def test_streaming_streaks_match_pandas_runs(spark):
    """The stateful streak fold across 4 time-ordered micro-batches
    must equal a single-pass pandas run-length recompute (earliest-max
    tie-break)."""
    from sdg_engine.queries.streaming import streaming_user_streaks

    out = _pdf(streaming_user_streaks(spark, SF)).set_index("user_id")
    ev = _pdf(spark.read.parquet(f"{SF}/events.parquet")).sort_values(
        ["ts", "event_id"]
    )
    for uid, grp in ev.groupby("user_id"):
        last, cur, best, best_t = None, 0, 0, None
        for t in grp.event_type:
            cur = cur + 1 if t == last else 1
            last = t
            if cur > best:
                best, best_t = cur, t
        r = out.loc[uid]
        assert (int(r.n_events), int(r.best_len), r.best_type) == (
            len(grp), best, best_t,
        ), uid
    assert len(out) == ev.user_id.nunique()


def test_box_downscale_kernel_analytic():
    """Constant image -> every output pixel equals the input; a 4x4
    ramp -> known block means; odd trailing row/col dropped."""
    from sdg_engine.ops.payload import box_downscale_kernel

    flat = np.full((5, 7), 42_000, dtype=np.int64)  # odd dims
    n_out, s, mx, mn, chk = box_downscale_kernel(flat)
    assert n_out == 2 * 3 and mx == mn == 42_000 and s == 6 * 42_000

    ramp = np.arange(16, dtype=np.int64).reshape(4, 4)
    n_out, s, mx, mn, chk = box_downscale_kernel(ramp)
    # blocks: {0,1,4,5}->2, {2,3,6,7}->4, {8,9,12,13}->10, {10,11,14,15}->12
    assert (n_out, s, mx, mn) == (4, 28, 12, 2)


def test_forecast_ols_matches_pandas(spark):
    """Rolling-OLS backtest must match a pandas recompute (rolling
    windows + the same closed-form double chain)."""
    from sdg_engine.queries.relational import (
        _FC_DET,
        _FC_K,
        _FC_SI,
        events_forecast_ols,
    )

    out = _pdf(events_forecast_ols(spark, SF)).iloc[0]
    ev = _hourly(spark)
    x = ev.groupby("h").size().sort_index().astype(np.int64)
    k = _FC_K
    n_obs = 0
    mae_ols = mae_naive = 0
    vals = x.to_numpy()
    for pos in range(k, len(vals)):
        win = vals[pos - k: pos]
        sx = int(win.sum())
        six = int((np.arange(1, k + 1, dtype=np.int64) * win).sum())
        fc = math.floor(1000000.0 * (
            float(sx) / k
            + float(k * six - _FC_SI * sx)
            * ((k + 1) - _FC_SI / float(k)) / float(_FC_DET)
        ))
        n_obs += 1
        mae_ols += abs(int(vals[pos]) * 1000000 - fc)
        mae_naive += abs(int(vals[pos]) - int(vals[pos - 1])) * 1000000
    assert int(out.n_obs) == n_obs
    assert int(out.mae_ols_micros) == mae_ols
    assert int(out.mae_naive_micros) == mae_naive


def test_rank_functions_invariants(spark):
    """NTILE buckets are balanced within 1; counts conserve; cume_dist
    sums match the closed form sum_{r=1..n} r/n in micros."""
    from sdg_engine.queries.relational import orders_rank_functions

    out = _pdf(orders_rank_functions(spark, SF))
    orders = _pdf(spark.read.parquet(f"{SF}/orders.parquet"))
    per_st = orders.groupby("o_orderstatus").size()
    for st, grp in out.groupby("st"):
        assert int(grp.n.sum()) == int(per_st[st])
        assert grp.n.max() - grp.n.min() <= 1
        n = int(per_st[st])
        want_cd = sum(math.floor(1000000.0 * r / n) for r in range(1, n + 1))
        assert int(grp.sum_cd_micros.sum()) == want_cd


def test_ripley_k_matches_numpy_bruteforce(spark):
    """Cell-blocked pair counts must equal an O(n^2) numpy brute force
    over the same quantized bounded point set (r_max == cell size, so
    blocking provably loses nothing)."""
    from sdg_engine.queries.spatial import _RK_BOUND, _RK_RADII, cells_ripley_k

    out = _pdf(cells_ripley_k(spark, SF)).set_index("r_micro")
    orders = _pdf(spark.read.parquet(f"{SF}/orders.parquet"))
    ok = orders.o_orderkey.to_numpy().astype(np.int64)
    ok = ok[ok <= _RK_BOUND]
    lon = (ok * 2654435761 % 1000000) / 100000.0
    lat = (ok * 2246822519 % 1000000) / 100000.0
    x = np.floor(lon * 1000000).astype(np.int64)
    y = np.floor(lat * 1000000).astype(np.int64)
    n = len(ok)
    want = {r: 0 for r in _RK_RADII}
    for i in range(0, n, 512):
        xa, ya = x[i:i + 512], y[i:i + 512]
        dsq = (xa[:, None] - x[None, :]) ** 2 + (ya[:, None] - y[None, :]) ** 2
        # count unordered pairs once: j > global index of row i+k
        for r in _RK_RADII:
            hit = dsq <= r * r
            for k in range(len(xa)):
                want[r] += int(hit[k, i + k + 1:].sum())
    for r in _RK_RADII:
        assert int(out.loc[r].n_pairs) == want[r], r
        assert int(out.loc[r].n) == n
    assert int(out.loc[_RK_RADII[0]].n_pairs) <= int(
        out.loc[_RK_RADII[1]].n_pairs
    )


def test_bootstrap_ci_matches_hashlib(spark):
    """Replicate means must equal a python recompute drawing the same
    md5-derived indices (determinism across engines AND languages)."""
    import hashlib

    from sdg_engine.queries.relational import _BS_B, events_bootstrap_ci

    out = _pdf(events_bootstrap_ci(spark, SF)).iloc[0]
    ev = _hourly(spark)
    x = ev.groupby("h").size().sort_index().to_numpy().astype(np.int64)
    n = len(x)
    means = []
    for b in range(_BS_B):
        tot = 0
        for s in range(n):
            h = hashlib.md5(f"bs{b}:{s}".encode()).hexdigest()[:12]
            tot += int(x[(int(h, 16) % 1000000) % n])
        means.append((1000000 * tot) // n)
    means.sort()
    assert int(out.n_reps) == _BS_B
    assert int(out.lo_micros) == means[1]
    assert int(out.hi_micros) == means[-2]
    assert int(out.sum_mean_micros) == sum(means)
    assert means[1] <= means[-2]


def test_davies_bouldin_matches_numpy(spark):
    """Per-label scatter and worst-ratio columns must match a dense
    numpy recompute of the same integer chains."""
    from sdg_engine.queries.ann import embeddings_davies_bouldin

    out = _pdf(embeddings_davies_bouldin(spark, SF)).set_index("label")
    emb = _pdf(spark.read.parquet(f"{SF}/embeddings.parquet"))
    arr = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    q = np.floor(arr * 1000.0 + 0.5).astype(np.int64)
    labels = emb["label"].to_numpy()
    uniq = sorted(set(labels.tolist()))
    cent = {}
    s_mils = {}
    for lb in uniq:
        m = q[labels == lb]
        # Spark DIV and DuckDB // both truncate toward zero on
        # negatives (verified) — numpy floor_divide floors, so build
        # the truncating form explicitly
        s = m.sum(axis=0)
        cent[lb] = np.sign(s) * (np.abs(s) // len(m))
        d = np.floor(np.sqrt(((m - cent[lb]) ** 2).sum(axis=1).astype(
            np.float64))).astype(np.int64)
        s_mils[lb] = int(d.sum()) // len(m)
        assert int(out.loc[lb].n_members) == len(m)
        assert int(out.loc[lb].s_mils) == s_mils[lb]
    for lb in uniq:
        best = 0
        for other in uniq:
            if other == lb:
                continue
            msq = int(((cent[lb] - cent[other]) ** 2).sum())
            m_mils = math.floor(math.sqrt(float(msq)))
            best = max(best, (1000 * (s_mils[lb] + s_mils[other])) // m_mils)
        assert int(out.loc[lb].d_mils) == best, lb


def test_median3_kernel_analytic():
    """A constant image is a fixpoint; a single spike is ERASED by the
    median (all its neighborhoods have >= 5 background values)."""
    from sdg_engine.ops.payload import median3_kernel

    flat = np.full((9, 9), 42_000, dtype=np.int64)
    n_px, s, changed, maxd, chk = median3_kernel(flat)
    assert (s, changed, maxd) == (81 * 42_000, 0, 0)

    spike = flat.copy()
    spike[4, 4] += 9_000
    n_px, s, changed, maxd, chk = median3_kernel(spike)
    assert (s, changed, maxd) == (81 * 42_000, 1, 9_000)


def test_resample_points_matches_numpy(spark):
    """Per-(kind,k) resample sums must match a numpy arc-length walk
    over the same roads (sequential cumsum, same half-open pick)."""
    from collections import defaultdict

    from sdg_engine.jobs.rai import fixture_dir
    from sdg_engine.queries.spatial import roads_resample_points

    out = _pdf(roads_resample_points(spark, SF)).set_index(["kind", "k"])
    roads = pd.read_parquet(f"{fixture_dir(0.01)}/roads.parquet")
    acc = defaultdict(lambda: [0, 0, 0])
    for _, r in roads.iterrows():
        pts = np.asarray([(c["x"], c["y"]) for c in r.coords])
        seg = np.diff(pts, axis=0)
        slen = np.sqrt((seg ** 2).sum(axis=1))
        cum = np.zeros(len(slen))
        run = 0.0
        for i, sl in enumerate(slen):  # sequential fold (matches window)
            run += sl
            cum[i] = run
        total = run
        if total <= 0:
            continue
        start = cum - slen
        for k in range(1, 8):
            tgt = total * k / 8.0
            sel = np.where((start <= tgt) & (tgt < cum))[0]
            assert len(sel) == 1
            i = int(sel[0])
            t = (tgt - start[i]) / slen[i]
            ux = math.floor((pts[i, 0] + t * seg[i, 0]) * 1000000 + 0.5)
            uy = math.floor((pts[i, 1] + t * seg[i, 1]) * 1000000 + 0.5)
            a = acc[(r.kind, k)]
            a[0] += 1
            a[1] += ux
            a[2] += uy
    for (kind, k), (np_, sux, suy) in acc.items():
        row = out.loc[(kind, k)]
        assert (int(row.n_points), int(row.sum_ux), int(row.sum_uy)) == (
            np_, sux, suy,
        ), (kind, k)


def test_abc_analysis_matches_pandas(spark):
    from sdg_engine.queries.relational import orders_abc_analysis

    out = _pdf(orders_abc_analysis(spark, SF)).set_index("abc").sort_index()
    li = _pdf(spark.read.parquet(f"{SF}/lineitem.parquet"))
    part = _pdf(spark.read.parquet(f"{SF}/part.parquet"))
    li = li.merge(part[["p_partkey", "p_brand"]],
                  left_on="l_partkey", right_on="p_partkey")
    li["cents"] = np.floor(li.l_extendedprice * 100 + 0.5).astype(np.int64)
    rev = li.groupby("p_brand").cents.sum().reset_index()
    rev = rev.sort_values(["cents", "p_brand"],
                          ascending=[False, True]).reset_index(drop=True)
    total = int(rev.cents.sum())
    cum_before = rev.cents.cumsum().shift(1, fill_value=0).astype(np.int64)
    cls = np.where(cum_before * 100 < total * 80, "A",
                   np.where(cum_before * 100 < total * 95, "B", "C"))
    want = pd.DataFrame({"abc": cls, "rev": rev.cents}).groupby("abc").agg(
        n_brands=("rev", "size"), sum_cents=("rev", "sum"))
    assert (out[["n_brands", "sum_cents"]].astype(np.int64).values
            == want.sort_index().astype(np.int64).values).all()
    assert int(out.n_brands.sum()) == rev.p_brand.nunique()


def test_markov_stationary_matches_python(spark):
    """Integer power method must match a dict-based python recompute;
    mass is conserved up to the per-term FLOOR loss."""
    from collections import defaultdict

    from sdg_engine.queries.relational import (
        _MK_ROUNDS,
        events_markov_stationary,
    )

    out = _pdf(events_markov_stationary(spark, SF)).set_index("event_type")
    ev = _pdf(spark.read.parquet(f"{SF}/events.parquet")).sort_values(
        ["user_id", "ts", "event_id"]
    )
    c = defaultdict(int)
    r = defaultdict(int)
    for _, grp in ev.groupby("user_id"):
        ts = grp.event_type.tolist()
        for a, b in zip(ts, ts[1:]):
            c[(a, b)] += 1
            r[a] += 1
    pi = {t: 1000000 // 5 for t in r}
    for _ in range(_MK_ROUNDS):
        nxt = defaultdict(int)
        for (a, b), cnt in c.items():
            nxt[b] += (pi.get(a, 0) * cnt) // r[a]
        pi = dict(nxt)
    assert {k: int(v.pi_micros) for k, v in out.iterrows()} == pi
    loss = 1000000 - sum(pi.values())
    assert 0 <= loss <= _MK_ROUNDS * len(c)


def test_frechet_matches_python_recursion(spark):
    """Engine minimax DP must match an independent MEMOIZED RECURSIVE
    formulation; Frechet dominates both directed Hausdorff values for
    every pair."""
    import sys

    from sdg_engine.jobs.rai import fixture_dir
    from sdg_engine.queries.spatial import roads_frechet, roads_hausdorff

    out = _pdf(roads_frechet(spark, SF))
    haus = _pdf(roads_hausdorff(spark, SF)).set_index(["ra", "rb"])
    roads = pd.read_parquet(f"{fixture_dir(0.01)}/roads.parquet")
    vq = {
        r.road_id: np.floor(
            np.asarray([(c["x"], c["y"]) for c in r.coords]) * 1e6
        ).astype(np.int64)
        for _, r in roads.iterrows()
    }
    sys.setrecursionlimit(100000)
    for _, row in out.iterrows():
        a, b = vq[row.ra], vq[row.rb]
        d = ((a[:, None, :] - b[None, :, :]) ** 2).sum(axis=2)
        memo = {}

        def f(i, j):
            if (i, j) in memo:
                return memo[(i, j)]
            if i == 0 and j == 0:
                v = int(d[0, 0])
            else:
                prev = min(
                    f(i - 1, j) if i else 1 << 62,
                    f(i, j - 1) if j else 1 << 62,
                    f(i - 1, j - 1) if i and j else 1 << 62,
                )
                v = max(int(d[i, j]), prev)
            memo[(i, j)] = v
            return v

        # iterative fill in diagonal order avoids deep recursion
        for i in range(len(a)):
            for j in range(len(b)):
                f(i, j)
        want = f(len(a) - 1, len(b) - 1)
        assert int(row.f_sq) == want, (row.ra, row.rb)
        h = haus.loc[(row.ra, row.rb)]
        assert int(row.f_sq) >= int(h.h_sq)
