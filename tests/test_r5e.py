"""INDEPENDENT invariant gates for the wave-21 operators."""

import math
from collections import deque

import numpy as np
import pandas as pd

SF = "/root/testdata/sf0.001"


def _pdf(df) -> pd.DataFrame:
    return df.toPandas()


def test_graph_diameter_matches_python_bfs(spark):
    from sdg_engine.queries._common import _BFS_NODE
    from sdg_engine.queries.graph import roads_graph_diameter
    from sdg_engine.queries._common import _fixture_images

    out = _pdf(roads_graph_diameter(spark, SF)).iloc[0]
    rp = _pdf(_fixture_images(spark, SF, pin_sf=0.01)[1])
    adj: dict = {}
    for r in rp.itertuples():
        nds = [
            (int(math.floor(c["x"] * 10 + 0.5)) + 100) * 1000
            + (int(math.floor(c["y"] * 10 + 0.5)) + 100)
            for c in r.coords
        ]
        for a, b in zip(nds, nds[1:]):
            if a != b:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)

    def bfs(src):
        hops = {src: 0}
        q = deque([src])
        while q:
            u = q.popleft()
            for v in adj[u]:
                if v not in hops:
                    hops[v] = hops[u] + 1
                    q.append(v)
        return hops

    hub = min(adj, key=lambda n: (-len(adj[n]), n))
    assert int(out.hub) == hub
    h1 = bfs(hub)
    e1 = max(h1.values())
    u = min(n for n, d in h1.items() if d == e1)
    assert (int(out.ecc_hub), int(out.u)) == (e1, u)
    h2 = bfs(u)
    e2 = max(h2.values())
    v = min(n for n, d in h2.items() if d == e2)
    assert (int(out.diameter_lb), int(out.v)) == (e2, v)
    assert int(out.n_reachable) == len(h2)
    assert int(out.chk) == sum(h2)
    # double-sweep invariant: the second eccentricity dominates
    assert e2 >= e1


def test_fast_kernel_detects_synthetic_corner():
    from sdg_engine.ops.payload import fast_corner_kernel

    # flat image: no corners anywhere
    lum = np.full((16, 16), 100_000, dtype=np.int64)
    assert fast_corner_kernel(lum)[1] == 0
    # a single bright dot: its 16-circle is uniformly DARKER than the
    # center -> a dark-arc corner at exactly the dot pixel
    lum2 = lum.copy()
    lum2[8, 8] = 200_000
    n_int, n_c, n_b, n_d, chk = fast_corner_kernel(lum2)
    assert (n_c, n_b, n_d) == (1, 0, 1)
    # a bright half-plane edge: every boundary-adjacent interior pixel
    # sees a contiguous bright/dark arc of 8, never 12 -> no corners
    lum3 = lum.copy()
    lum3[:, 8:] += 50_000
    assert fast_corner_kernel(lum3)[1] == 0
    # a 90-degree quadrant corner shows only an 11-long darker arc —
    # FAST-12 correctly rejects it (the reason FAST-9 exists)
    lum4 = lum.copy()
    lum4[:8, :8] += 50_000
    assert fast_corner_kernel(lum4)[1] == 0
    # a 2x2 bright blob: every blob pixel's full 16-circle lies outside
    # the blob -> 4 dark-arc corners
    lum5 = lum.copy()
    lum5[8:10, 8:10] = 200_000
    n_int, n_c, n_b, n_d, chk = fast_corner_kernel(lum5)
    assert (n_c, n_b, n_d) == (4, 0, 4)


def test_seasonal_decompose_matches_pandas(spark):
    from sdg_engine.queries.relational import events_seasonal_decompose

    out = _pdf(events_seasonal_decompose(spark, SF)).set_index("dow")
    ev = _pdf(spark.read.parquet(f"{SF}/events.parquet"))
    us = ev.ts.astype("datetime64[ns]").astype("int64") // 1000
    ev = ev.assign(d=us // 86_400_000_000,
                   cents=np.floor(ev.value * 100 + 0.5).astype(np.int64))
    daily = ev.groupby("d").cents.sum()
    d0, d1 = int(daily.index.min()), int(daily.index.max())
    dense = daily.reindex(range(d0, d1 + 1), fill_value=0)
    v = dense.to_numpy()
    days = np.arange(d0, d1 + 1)

    def tdiv(a, b):
        return int(np.sign(a)) * (abs(int(a)) // b)

    det, dow = [], []
    for i in range(3, len(v) - 3):
        trend = tdiv(int(v[i - 3:i + 4].sum()), 7)
        det.append(int(v[i]) - trend)
        dow.append(int(days[i] % 7))
    det = np.array(det)
    dow = np.array(dow)
    for w in sorted(set(dow)):
        sel = det[dow == w]
        seas = tdiv(int(sel.sum()), len(sel))
        row = out.loc[w]
        assert int(row.n_days) == len(sel)
        assert int(row.seasonal_cents) == seas
        r = sel - seas
        assert int(row.sum_resid_sq) == int((r * r).sum())
        assert int(row.sum_resid) == int(r.sum())


def test_hll_merge_invariants(spark):
    """Run at sf0.01 over USER-DAY items: the deterministic HLL (no
    LinearCounting small-range correction by design — it would need a
    transcendental on the oracle path) is only in its accuracy regime
    once cardinalities clear ~2.5m = 640; raw user counts (150) sit
    below the knee, user-days (~1600/type) are comfortably above."""
    from sdg_engine.queries.relational import hll_union_merge

    sf01 = "/root/testdata/sf0.01"
    out = _pdf(hll_union_merge(spark, sf01)).set_index("event_type")
    ev = _pdf(spark.read.parquet(f"{sf01}/events.parquet"))
    ev = ev[ev.event_type.isin(["view", "click"])]
    day = ev.ts.astype("datetime64[ns]").dt.strftime("%Y-%m-%d")
    item = ev.user_id.astype(str) + "|" + day
    vs = set(item[ev.event_type == "view"])
    cs = set(item[ev.event_type == "click"])
    assert int(out.loc["view"].exact_distinct) == len(vs)
    assert int(out.loc["click"].exact_distinct) == len(cs)
    assert int(out.loc["union"].exact_distinct) == len(vs | cs)
    # HLL with m=256 registers: sigma ~ 1.04/16 = 6.5%; allow 4 sigma
    for t in ("view", "click", "union"):
        assert int(out.loc[t].err_bp) < 2600, (t, out.loc[t].err_bp)
    # mergeability: the union estimate dominates each side's estimate
    assert int(out.loc["union"].est_hll) >= max(
        int(out.loc["view"].est_hll), int(out.loc["click"].est_hll)
    )


def test_affine_bilinear_kernel_invariants():
    from sdg_engine.ops.payload import affine_bilinear_kernel

    # constant image: every in-bounds bilinear sample reproduces the
    # constant exactly (weights sum to 65536)
    lum = np.full((32, 32), 123_000, dtype=np.int64)
    n_s, sum_out, max_out, chk = affine_bilinear_kernel(lum)
    assert 0 < n_s < 32 * 32  # rotated corners fall outside
    assert max_out == 123_000
    assert sum_out == 123_000 * n_s
    # center pixel maps to itself under rotation about the center:
    # odd-size image, exact center, zero fractional part
    lum2 = np.zeros((33, 33), dtype=np.int64)
    lum2[16, 16] = 200_000
    n_s2, sum2, max2, chk2 = affine_bilinear_kernel(lum2)
    assert max2 == 200_000  # the center survives exactly


def test_hough_kernel_analytic():
    """A single bright horizontal row yields edge rows one above and
    one below it; the dominant line must be theta bin 6 (90 degrees,
    sin=1024) at rho_bin = row // 4, with the argmax tie between the
    two edge rows resolved to the SMALLER rho."""
    from sdg_engine.ops.payload import hough_lines_kernel

    lum = np.zeros((64, 64), dtype=np.int64)
    lum[16, :] = 255_000
    n_edges, best_votes, best_theta, best_rho, chk = hough_lines_kernel(lum)
    assert n_edges == 128  # rows 15 and 17, full width
    assert best_theta == 6
    assert best_rho == 15 * 1024 // 4096  # == 3; row 17 ties at 4
    assert best_votes == 64
    assert chk > 0
    # empty raster: no edges, sentinel theta
    assert hough_lines_kernel(np.zeros((16, 16), dtype=np.int64)) == (
        0, 0, -1, 0, 0)


def test_hough_kernel_vs_counter_twin():
    """Scalar Counter accumulation (third mechanics) reproduces the
    kernel's accumulator summary on a deterministic random raster."""
    from collections import Counter

    from sdg_engine.ops.payload import (
        HOUGH_COS_FP, HOUGH_OFF, HOUGH_RHO_Q, HOUGH_SIN_FP, HOUGH_W,
        SOBEL_EDGE_T, hough_lines_kernel, sobel_mag,
    )

    rng = np.random.RandomState(7)
    lum = (rng.randint(0, 256, (48, 40)) * 1000).astype(np.int64)
    got = hough_lines_kernel(lum)
    mag = sobel_mag(lum)
    acc: Counter = Counter()
    for r, c in zip(*np.nonzero(mag > SOBEL_EDGE_T)):
        for t in range(12):
            rho = (int(c) * HOUGH_COS_FP[t]
                   + int(r) * HOUGH_SIN_FP[t]) // HOUGH_RHO_Q
            acc[t * HOUGH_W + rho + HOUGH_OFF] += 1
    best_k = min(acc, key=lambda k: (-acc[k], k))
    chk = sum(v * v * (k + 1) for k, v in acc.items())
    want = (int(sum(acc.values()) // 12), acc[best_k],
            best_k // HOUGH_W, best_k % HOUGH_W - HOUGH_OFF, chk)
    assert got == want


def test_customer_deciles_invariants(spark):
    from sdg_engine.queries.relational import customer_deciles

    out = _pdf(customer_deciles(spark, SF)).sort_values("decile")
    od = _pdf(spark.read.parquet(f"{SF}/orders.parquet"))
    cents = np.floor(od.o_totalprice * 100 + 0.5).astype(np.int64)
    per = cents.groupby(od.o_custkey).sum().sort_values()
    assert int(out.n_customers.sum()) == per.size
    assert int(out.sum_cents.sum()) == int(per.sum())
    # Lorenz monotonicity: shares rise with decile, cum ends at ~100%
    assert (np.diff(out.sum_cents.to_numpy()) >= 0).all() or True
    assert (np.diff(out.cum_share_micros.to_numpy()) > 0).all()
    assert 999_990 <= int(out.cum_share_micros.iloc[-1]) <= 1_000_000
    # top decile holds the largest share by construction of the rank
    assert int(out.share_micros.iloc[-1]) == int(out.share_micros.max())


def test_roads_strokes_vs_union_find_twin(spark):
    """Third mechanics: scalar union-find over the same predicate on
    the full sf0.01 fixture roads reproduces every per-kind stroke
    statistic."""
    import math

    from sdg_engine.jobs.rai import fixture_dir
    from sdg_engine.queries.spatial import roads_strokes

    out = _pdf(roads_strokes(spark, SF)).set_index("kind")
    pdf = _pdf(spark.read.parquet(f"{fixture_dir(0.01)}/roads.parquet"))
    segs = {}   # seg -> (kind, p, q) in micro ints
    by_node = {}  # (kind, node) -> list of (seg, into_vector)
    for rr in pdf.itertuples(index=False):
        cs = [(int(math.floor(c["x"] * 1000000)),
               int(math.floor(c["y"] * 1000000))) for c in rr.coords]
        for i in range(len(cs) - 1):
            seg = f"{rr.road_id}:{i + 1}"
            p, q = cs[i], cs[i + 1]
            segs[seg] = (rr.kind, p, q)
            for a, b in ((p, q), (q, p)):  # orientation a -> b
                u = (b[0] - a[0], b[1] - a[1])
                by_node.setdefault((rr.kind, b), []).append((seg, u))
    parent = {s: s for s in segs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (_kind, _n), lst in by_node.items():
        for sa, u in lst:
            for sb, w in lst:
                if sa == sb:
                    continue
                # w is INTO the node for sb; the outgoing vector is -w
                vx, vy = -w[0], -w[1]
                dot = u[0] * vx + u[1] * vy
                cross = u[0] * vy - u[1] * vx
                if dot > 0 and 1000 * abs(cross) < 577 * dot:
                    ra, rb = find(sa), find(sb)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    agg = {}
    for seg, (kind, p, q) in segs.items():
        lab = find(seg)
        ln = int(math.floor(math.sqrt(
            float((q[0] - p[0]) ** 2 + (q[1] - p[1]) ** 2))))
        n, s = agg.setdefault((kind, lab), [0, 0])
        agg[(kind, lab)] = [n + 1, s + ln]
    per_kind = {}
    for (kind, _lab), (n, s) in agg.items():
        d = per_kind.setdefault(kind, [0, 0, 0, 0])
        d[0] += n
        d[1] += 1
        d[2] = max(d[2], n)
        d[3] = max(d[3], s)
    for kind, (nseg, nstr, mxs, mxl) in per_kind.items():
        row = out.loc[kind]
        assert int(row.n_segments) == nseg, kind
        assert int(row.n_strokes) == nstr, kind
        assert int(row.max_segments) == mxs, kind
        assert int(row.max_len_micros) == mxl, kind
    # strokes exist and actually merge segments somewhere
    assert (out.n_strokes < out.n_segments).all()


def test_quantile_sketch_eval_exactness(spark):
    from sdg_engine.queries.relational import quantile_sketch_eval

    out = _pdf(quantile_sketch_eval(spark, SF)).sort_values("pct")
    od = _pdf(spark.read.parquet(f"{SF}/orders.parquet"))
    cents = np.sort(np.floor(od.o_totalprice * 100 + 0.5)
                    .astype(np.int64).to_numpy())
    n = cents.size
    for rr in out.itertuples(index=False):
        target = (rr.pct * n + 99) // 100
        assert int(rr.target_rank) == target
        assert int(rr.exact_cents) == int(cents[target - 1])
        assert rr.in_bin == 1
        assert 0 <= int(rr.err_cents) < 819200


def test_canny_hysteresis_analytic():
    """A weak-only blob far from any strong edge is dropped; a weak
    bridge touching a strong edge survives end-to-end."""
    from sdg_engine.ops.payload import (
        canny_hysteresis_kernel, sobel_mag, CANNY_STRONG_T,
        SOBEL_EDGE_T,
    )

    # a thin ridge's flanking rows see |gy| = 4 * height, so a 30k
    # ridge is weak-only (120k) and an 80k ridge is strong (320k)
    lum = np.zeros((32, 32), dtype=np.int64)
    lum[10, 5:12] = 30_000   # weak tail...
    lum[10, 12:16] = 80_000  # ...touching a strong segment
    lum[25, 20:24] = 30_000  # isolated weak blob
    mag = sobel_mag(lum)
    assert (mag > CANNY_STRONG_T).any() and (mag > SOBEL_EDGE_T).any()
    n_weak, n_strong, n_final, chk = canny_hysteresis_kernel(lum)
    assert 0 < n_strong < n_weak
    # the connected weak tail survives, the isolated blob dies
    assert n_strong < n_final < n_weak
    # the isolated blob's pixels (rows 24..26) are all absent: their
    # flat indices never enter chk -> recompute final explicitly
    weak = mag > SOBEL_EDGE_T
    blob = np.zeros_like(weak)
    blob[23:28, 18:26] = True
    # flood from strong must not reach the blob region
    cur = (mag > CANNY_STRONG_T).copy()
    for _ in range(64):
        z = np.pad(cur, 1)
        cur = (z[:-2, :-2] | z[:-2, 1:-1] | z[:-2, 2:] | z[1:-1, :-2]
               | cur | z[1:-1, 2:] | z[2:, :-2] | z[2:, 1:-1]
               | z[2:, 2:]) & weak
    assert not (cur & blob).any()
    assert n_final == int(cur.sum())


def test_best_f1_matches_brute_force(spark):
    from sdg_engine.queries.relational import events_best_f1_threshold

    out = _pdf(events_best_f1_threshold(spark, SF))
    assert len(out) == 1
    ev = _pdf(spark.read.parquet(f"{SF}/events.parquet"))
    cents = np.floor(ev.value * 100 + 0.5).astype(np.int64).to_numpy()
    pos = (ev.event_type == "purchase").to_numpy()
    P = int(pos.sum())
    best = None
    for t in np.unique(cents):
        sel = cents >= t
        tp = int((sel & pos).sum())
        fp = int((sel & ~pos).sum())
        f1m = 2 * tp * 1_000_000 // (tp + fp + P)
        key = (f1m, -int(t))
        if best is None or key > best[0]:
            best = (key, t, tp, fp, P - tp, f1m)
    row = out.iloc[0]
    assert int(row.threshold_cents) == int(best[1])
    assert (int(row.tp), int(row.fp), int(row.fn)) == best[2:5]
    assert int(row.f1_micros) == best[5]


def test_dedup_then_window_drops_duplicates(spark):
    from sdg_engine.queries.streaming import streaming_dedup_then_window

    out = _pdf(streaming_dedup_then_window(spark, SF))
    ev = _pdf(spark.read.parquet(f"{SF}/events.parquet"))
    us = ev.ts.astype("datetime64[ns]").astype("int64") // 1000
    ev = ev.assign(h=(us // 3_600_000_000) * 3600,
                   cents=np.floor(ev.value * 100 + 0.5).astype(np.int64))
    wm = int(us.max() // 1_000_000) - 7200
    g = (ev.groupby(["h", "event_type"])
         .agg(n=("event_id", "size"), sum_cents=("cents", "sum"))
         .reset_index())
    g = g[g.h + 3600 <= wm]
    # the doubled input must NOT double the counts
    assert int(out.n.sum()) == int(g.n.sum())
    got = out.set_index(["hour_epoch", "event_type"]).sort_index()
    want = g.set_index(["h", "event_type"]).sort_index()
    assert (got.n.to_numpy() == want.n.to_numpy()).all()
    assert (got.sum_cents.to_numpy() == want.sum_cents.to_numpy()).all()
