"""INDEPENDENT invariant gates for the wave-9 operators.

The DuckDB oracles for these queries share expression fragments with
the engine; these tests recompute each result through a SECOND path
(an event-sorted sweep simulation, pandas join(sorted(...)), a
trigonometric atan2 octant classifier vs the engine's pure-integer
sign CASE, numpy centroid silhouette) so a shared-fragment bug cannot
hide.
"""

import math

import numpy as np
import pandas as pd

SF = "/root/testdata/sf0.001"

HOLD = 1_800_000_000
DAY = 86_400_000_000


def _pdf(df) -> pd.DataFrame:
    return df.toPandas()


def test_concurrency_matches_sweep_simulation(spark):
    from sdg_engine.queries.relational import events_concurrency

    out = _pdf(events_concurrency(spark, SF)).set_index("day")
    ev = _pdf(spark.read.parquet(f"{SF}/events.parquet"))
    s = (ev.ts.astype("datetime64[ns]").astype("int64") // 1000).to_numpy()
    bounds: dict[int, list[tuple[int, int]]] = {}
    for t0 in s:
        e = t0 + HOLD
        dayend = (t0 // DAY + 1) * DAY
        segs = [(t0 // DAY, t0, min(e, dayend))]
        if e > dayend:
            segs.append((t0 // DAY + 1, dayend, e))
        for day, a, b in segs:
            bounds.setdefault(int(day), []).extend([(a, 1), (b, -1)])
    assert set(out.index) == set(bounds)
    for day, bl in bounds.items():
        bl.sort()  # (t, delta): -1 before +1 at equal t (half-open)
        cur = peak = 0
        first_peak = None
        i = 0
        while i < len(bl):
            t = bl[i][0]
            while i < len(bl) and bl[i][0] == t and bl[i][1] == -1:
                cur -= 1
                i += 1
            # value after the -1 group is a distinct sweep state too
            if cur > peak:
                peak, first_peak = cur, t
            while i < len(bl) and bl[i][0] == t:
                cur += 1
                i += 1
            if cur > peak:
                peak, first_peak = cur, t
        row = out.loc[day]
        assert int(row.peak) == peak
        assert int(row.first_peak_us) == first_peak
        assert int(row.n_opens) == sum(1 for _, d in bl if d == 1)
        assert cur == 0  # every opened interval closed within its day


def test_listagg_matches_pandas_join(spark):
    from sdg_engine.queries.relational import orders_listagg

    out = _pdf(orders_listagg(spark, SF)).set_index("o_orderstatus")
    o = _pdf(spark.read.parquet(f"{SF}/orders.parquet"))
    for status, grp in o.groupby("o_orderstatus"):
        vals = sorted(set(grp.o_orderpriority))
        row = out.loc[status]
        assert row.priorities_csv == ",".join(vals)
        assert int(row.n_priorities) == len(vals)
        assert int(row.n_orders) == len(grp)


def _octant_trig(dx: int, dy: int) -> int:
    """Trig second path for the engine's integer sign CASE: exact
    boundaries (axes and diagonals — detectable exactly in integers)
    belong to the EVEN octant touching them; everything else is a
    plain floor(theta / 45deg)."""
    ang = (math.degrees(math.atan2(dy, dx)) + 360.0) % 360.0
    if dx == 0 or dy == 0 or abs(dx) == abs(dy):
        ki = int(round(ang / 45.0)) % 8
        return ki if ki % 2 == 0 else ki - 1
    return int(ang // 45.0)


def test_bearing_octants_match_trig(spark):
    from sdg_engine.queries.spatial import roads_bearing_octants

    out = _pdf(roads_bearing_octants(spark, SF))
    from sdg_engine.queries._common import _fixture_images

    _imgs, roads = _fixture_images(spark, SF, pin_sf=0.01)
    rp = _pdf(roads.selectExpr("kind", "coords"))
    n = {}
    ln = {}
    for kind, coords in zip(rp.kind, rp.coords):
        xs = np.floor(
            np.array([c["x"] for c in coords]) * 1e6
        ).astype(np.int64)
        ys = np.floor(
            np.array([c["y"] for c in coords]) * 1e6
        ).astype(np.int64)
        for i in range(len(xs) - 1):
            dx, dy = int(xs[i + 1] - xs[i]), int(ys[i + 1] - ys[i])
            if dx == 0 and dy == 0:
                continue
            k = (kind, _octant_trig(dx, dy))
            n[k] = n.get(k, 0) + 1
            ln[k] = ln.get(k, 0) + math.floor(math.sqrt(dx * dx + dy * dy))
    got = {(r.kind, int(r.octant)): (int(r.n_segments), int(r.len_micros))
           for r in out.itertuples()}
    assert got == {k: (n[k], ln[k]) for k in n}


def test_silhouette_matches_numpy(spark):
    from sdg_engine.queries.ann import embeddings_silhouette

    out = _pdf(embeddings_silhouette(spark, SF)).set_index("label")
    emb = _pdf(spark.read.parquet(f"{SF}/embeddings.parquet"))
    q = np.stack([
        np.floor(np.asarray(v, dtype=np.float64) * 1000.0 + 0.5)
        for v in emb.embedding
    ]).astype(np.int64)
    labels = emb.label.to_numpy()
    ks = np.unique(labels)

    def trunc_div(a, b):
        return np.sign(a) * (np.abs(a) // b)

    cents = {
        k: trunc_div(q[labels == k].sum(axis=0), (labels == k).sum())
        for k in ks
    }
    d = np.stack([
        np.floor(np.sqrt(((q - cents[k]) ** 2).sum(axis=1)))
        for k in ks
    ]).astype(np.int64)  # shape (k, n)
    own = np.array([np.where(ks == l)[0][0] for l in labels])
    a = d[own, np.arange(len(labels))]
    masked = d.astype(np.float64)
    masked[own, np.arange(len(labels))] = np.inf
    b = masked.min(axis=0).astype(np.int64)
    keep = np.maximum(a, b) > 0
    s = trunc_div(1000 * (b - a), np.maximum(a, b))
    for k in ks:
        sel = keep & (labels == k)
        row = out.loc[k]
        assert int(row.n_members) == int(sel.sum())
        assert int(row.sum_s_mils) == int(s[sel].sum())
        assert int(row.mean_s_mils) == int(
            np.sign(s[sel].sum()) * (abs(int(s[sel].sum())) // sel.sum())
        )
    # s(i) is bounded in (-1, 1) by construction; the synthetic labels
    # overlap heavily in 64-dim so the means sit near zero — the
    # invariant is the bound, not the sign
    assert out.mean_s_mils.between(-1000, 1000).all()


def test_mst_matches_prim(spark):
    """Third algorithm family: heapq PRIM per component (vs the
    engine's distributed Boruvka and the golden's scalar Kruskal)."""
    import heapq

    from sdg_engine.queries.graph import mst_roads
    from sdg_engine.queries.graph import _spw_edges

    out = _pdf(mst_roads(spark, SF)).iloc[0]
    ed = _pdf(_spw_edges(spark, SF).filter("src < dst"))
    adj = {}
    for r in ed.itertuples():
        adj.setdefault(r.src, []).append((int(r.w), r.dst))
        adj.setdefault(r.dst, []).append((int(r.w), r.src))
    seen = set()
    total = cnt = comps = 0
    for start in sorted(adj):
        if start in seen:
            continue
        comps += 1
        seen.add(start)
        h = list(adj[start])
        heapq.heapify(h)
        while h:
            w, v = heapq.heappop(h)
            if v in seen:
                continue
            seen.add(v)
            total += w
            cnt += 1
            for e in adj[v]:
                heapq.heappush(h, e)
    assert int(out.n_nodes) == len(seen)
    assert int(out.n_components) == comps
    assert int(out.n_mst_edges) == cnt == len(seen) - comps
    assert int(out.total_w) == total


def test_snap_agrees_with_knn_and_lies_on_segment(spark):
    from sdg_engine.queries.spatial import spatial_knn_nearest
    from sdg_engine.queries.spatial import points_snap_roads

    snap = _pdf(points_snap_roads(spark, SF)).set_index("point_id")
    knn = _pdf(spatial_knn_nearest(spark, SF)).set_index("point_id")
    assert set(snap.index) == set(knn.index)
    j = snap.join(knn, rsuffix="_k")
    assert (j.road_id == j.road_id_k).all()
    assert (j.dist_m == j.dist_m_k).all()
    assert j.t_micros.between(0, 1_000_000).all()
    # the snapped point re-measures (plate-carree) to the reported
    # distance within micro-quantization error (~0.2 m/micro here)
    from sdg_engine import METERS_PER_DEG
    from sdg_engine.harness import PX, PY

    pts = _pdf(
        spark.read.parquet(f"{SF}/orders.parquet").selectExpr(
            "o_orderkey AS point_id", f"{PX} AS lon", f"{PY} AS lat"
        )
    ).set_index("point_id")
    jj = j.join(pts)
    dx = jj.lon - jj.snap_x_micro / 1e6
    dy = jj.lat - jj.snap_y_micro / 1e6
    d = np.sqrt(dx * dx + dy * dy) * METERS_PER_DEG
    assert (np.abs(d - jj.dist_m) < 0.5).all()


def test_otsu_kernel_analytic():
    from fractions import Fraction

    from sdg_engine.ops.payload import otsu_kernel

    # bimodal: 60 dark pixels at luma 10k, 40 bright at 200k ->
    # threshold must fall strictly between the modes
    lum = np.array([10_000] * 60 + [200_000] * 40,
                   dtype=np.int64).reshape(10, 10)
    thr, n_fg, sum_fg, chk = otsu_kernel(lum)
    assert 10 <= thr < 200
    assert n_fg == 40
    assert sum_fg == 40 * 200_000
    # brute-force Fraction argmax over a seeded random image
    rng = np.random.default_rng(7)
    lum = rng.integers(0, 256, size=(16, 16)).astype(np.int64) * 1000
    thr, n_fg, sum_fg, chk = otsu_kernel(lum)
    b = (lum // 1000).ravel()
    n = b.size
    s = int(b.sum())
    best_t, best = -1, Fraction(0)
    for t in range(256):
        w0 = int((b <= t).sum())
        if w0 == 0 or w0 == n:
            continue
        s0 = int(b[b <= t].sum())
        f = Fraction((s0 * n - s * w0) ** 2, w0 * (n - w0))
        if best_t < 0 or f > best:
            best_t, best = t, f
    assert thr == best_t
    assert n_fg == int((b > best_t).sum())


def test_chained_aggs_match_pandas_twolevel(spark):
    from sdg_engine.queries.streaming import streaming_chained_aggs

    out = _pdf(streaming_chained_aggs(spark, SF))
    ev = _pdf(spark.read.parquet(f"{SF}/events.parquet"))
    us = ev.ts.astype("datetime64[ns]").astype("int64") // 1000
    ev = ev.assign(hour=(us // 3_600_000_000) * 3600,
                   qtr=us // 900_000_000)
    q = ev.groupby(["hour", "qtr", "event_type"]).size().rename("n15")
    h = q.groupby(["hour", "event_type"]).agg(["sum", "count", "max"])
    wm = int(us.max() // 1_000_000) - 7200
    h = h[h.index.get_level_values("hour") + 3600 <= wm]
    got = out.set_index(["hour_epoch", "event_type"]).sort_index()
    assert len(got) == len(h)
    assert (got.n.to_numpy() == h["sum"].sort_index().to_numpy()).all()
    assert (got.n_quarters.to_numpy()
            == h["count"].sort_index().to_numpy()).all()
    assert (got.max_quarter.to_numpy()
            == h["max"].sort_index().to_numpy()).all()


def test_partition_evolution_prunes_old_spec_only(spark):
    from sdg_engine.queries.lakehouse import snapshot_partition_evolution

    out = _pdf(snapshot_partition_evolution(spark, SF)).iloc[0]
    docs = _pdf(spark.read.parquet(f"{SF}/documents.parquet"))
    en = docs[docs.lang == "en"]
    assert int(out.n_docs) == len(en)
    assert int(out.sum_chars) == int(en.n_chars.sum())
    # rows from BOTH specs survive the evolved read
    assert 0 < int(out.n_from_new_spec) < int(out.n_docs)
    # commit 1 pruned to its lang=en files; commit 2 fully fail-open
    assert int(out.files_scanned) < int(out.files_total)
    assert int(out.files_total) - int(out.files_scanned) == 8  # 10-2


def test_pitch_kernel_finds_pure_sine_period(spark):
    from sdg_engine.codecs import encode_wav
    from sdg_engine.ops.multimodal import audio_pitch_autocorr

    sr, freq = 16000, 200.0
    t = np.arange(sr // 10) / sr  # 100 ms
    wave = 0.5 * np.sin(2 * np.pi * freq * t)[:, None]
    df = spark.createDataFrame(
        [("pure0", encode_wav(wave, sr), "wav", sr, 1, 100)],
        "media_id string, bytes binary, codec string, sample_rate int, "
        "n_channels int, duration_ms int",
    )
    row = _pdf(audio_pitch_autocorr(df)).iloc[0]
    assert int(row.lag) == sr // int(freq)  # 80-sample period
    assert abs(float(row.f0_hz) - freq) < 1e-9
    assert int(row.n_lags) == 160 - 8 + 1


def test_motion_kernel_recovers_known_shift(spark):
    from sdg_engine.ops.multimodal import (
        encode_rawvid, video_motion_blocks,
    )

    rng = np.random.default_rng(99)
    h, w = 32, 48
    prev = rng.integers(0, 256, size=(h + 4, w + 4)).astype(np.uint8)
    # frame 2 = frame 1 shifted by (dy=2, dx=1): cur[y,x] = prev[y+2,x+1]
    f1 = prev[:h, :w]
    f2 = prev[2:2 + h, 1:1 + w]
    df = spark.createDataFrame(
        [("shift0", encode_rawvid(np.stack([f1, f2])), "rawvid", w, h,
          24.0, 2)],
        "media_id string, bytes binary, codec string, w int, h int, "
        "fps double, n_frames int",
    )
    row = _pdf(video_motion_blocks(df)).iloc[0]
    assert int(row.n_pairs) == 1
    assert int(row.n_blocks) == 15  # 3 x 5 interior grid
    assert int(row.n_moving) == 15
    assert int(row.sum_sad) == 0  # exact shift -> zero residual
    assert int(row.sum_abs_mv) == 15 * 3  # |2| + |1| per block


def test_edt_kernel_matches_bruteforce_all_pairs(spark):
    """Second path at kernel level: brute-force min over ALL bright
    pixels (the O(n * n_fg) definition) on small seeded rasters."""
    from sdg_engine.ops.payload import edt_kernel

    rng = np.random.default_rng(5)
    for _ in range(5):
        lum = rng.integers(0, 256, size=(12, 17)).astype(np.int64) * 1000
        n_px, n_fg, sum_d2, max_d2, chk = edt_kernel(lum)
        ys, xs = np.nonzero(lum >= 128_000)
        assert n_fg == len(ys)
        yy, xx = np.mgrid[0:12, 0:17]
        d2 = ((yy[..., None] - ys) ** 2
              + (xx[..., None] - xs) ** 2).min(axis=2)
        assert sum_d2 == int(d2.sum())
        assert max_d2 == int(d2.max())
        wgt = (np.arange(d2.size, dtype=np.int64) % 97) + 1
        assert chk == int((wgt * d2.ravel()).sum())
    # no-seed sentinel
    assert edt_kernel(np.zeros((4, 4), np.int64)) == (16, 0, -1, -1, -1)


def test_lateral_topk_matches_pandas(spark):
    from sdg_engine.queries.relational import lateral_topk_orders

    out = _pdf(lateral_topk_orders(spark, SF))
    o = _pdf(spark.read.parquet(f"{SF}/orders.parquet"))
    c = _pdf(spark.read.parquet(f"{SF}/customer.parquet"))
    bld = set(c[c.c_mktsegment == "BUILDING"].c_custkey)
    o = o[o.o_custkey.isin(bld)].assign(
        cents=np.floor(o.o_totalprice * 100 + 0.5).astype(np.int64)
    )
    top = (o.sort_values(["o_custkey", "cents", "o_orderkey"],
                         ascending=[True, False, True])
           .groupby("o_custkey").head(2))
    want = set(zip(top.o_custkey, top.o_orderkey, top.cents))
    got = set(zip(out.c_custkey, out.o_orderkey, out.cents))
    assert got == want


def test_xml_roundtrip_preserves_values(spark):
    from sdg_engine.queries.lakehouse import xml_roundtrip_events

    out = _pdf(xml_roundtrip_events(spark, SF)).set_index("event_type")
    ev = _pdf(spark.read.parquet(f"{SF}/events.parquet"))
    ev = ev.assign(
        cents=np.floor(ev.value * 100 + 0.5).astype(np.int64),
        us=ev.ts.astype("datetime64[ns]").astype("int64") // 1000,
    )
    for et, grp in ev.groupby("event_type"):
        row = out.loc[et]
        assert int(row.n) == len(grp)
        assert int(row.sum_cents) == int(grp.cents.sum())
        assert int(row.min_ts_us) == int(grp.us.min())
        assert int(row.max_ts_us) == int(grp.us.max())
        assert int(row.chk_ids) == int(grp.event_id.sum())


def test_decision_stump_matches_fraction_brute(spark):
    from fractions import Fraction

    from sdg_engine.queries.relational import orders_decision_stump

    out = _pdf(orders_decision_stump(spark, SF)).iloc[0]
    o = _pdf(spark.read.parquet(f"{SF}/orders.parquet"))
    b = (np.floor(o.o_totalprice * 100 + 0.5).astype(np.int64) // 10000)
    df = pd.DataFrame({"b": b, "s": o.o_orderstatus})
    best = None
    for t in sorted(df.b.unique()):
        left = df[df.b <= t]
        right = df[df.b > t]
        if len(right) == 0:
            continue
        num = (sum(int(c) ** 2 for c in left.s.value_counts())
               * len(right)
               + sum(int(c) ** 2 for c in right.s.value_counts())
               * len(left))
        f = Fraction(num, len(left) * len(right))
        if best is None or f > best[0]:
            best = (f, t, len(left), len(right), num)
    assert int(out.thr) == best[1]
    assert int(out.n_left) == best[2]
    assert int(out.n_right) == best[3]
    assert int(out.s_num) == best[4]


def test_rolling_wau_matches_set_union(spark):
    from sdg_engine.queries.relational import events_rolling_wau

    out = _pdf(events_rolling_wau(spark, SF)).set_index("day")
    ev = _pdf(spark.read.parquet(f"{SF}/events.parquet"))
    us = ev.ts.astype("datetime64[ns]").astype("int64") // 1000
    ev = ev.assign(day=us // 86_400_000_000)
    by_day = ev.groupby("day").user_id.agg(set)
    days = sorted(by_day.index)
    assert set(out.index) == set(days)
    for d in days:
        wau = set()
        for k in range(7):
            if d - k in by_day.index:
                wau |= by_day[d - k]
        assert int(out.loc[d].dau) == len(by_day[d])
        assert int(out.loc[d].wau) == len(wau)


def test_fft_sharpness_kernel_analytic():
    from sdg_engine.ops.payload import fft_sharpness_kernel

    # smooth vertical gradient: all energy at tiny wavenumbers
    yy = np.arange(32)[:, None] * np.ones((1, 32))
    lum = (yy * 1000).astype(np.int64)
    n_px, ratio, pu, pv = fft_sharpness_kernel(lum)
    assert ratio < 120_000  # smooth ramp leaks little into HF
    # dominant frequency: 1 cycle down rows — u=1 and its conjugate
    # u=h-1 have equal exact magnitude; float FFT picks one
    # deterministically
    assert pv == 0 and pu in (1, 31)
    # checkerboard at Nyquist: all energy beyond quarter-Nyquist
    cb = ((np.indices((32, 32)).sum(axis=0) % 2) * 255_000).astype(np.int64)
    n_px, ratio, pu, pv = fft_sharpness_kernel(cb)
    assert ratio == 1_000_000
    assert (pu, pv) == (16, 16)  # the Nyquist corner


def test_clip_area_matches_exact_rational(spark):
    """Exact-Fraction Sutherland-Hodgman twin: the double-arithmetic
    kernel's areas must sit within one nano-unit of the exact rational
    intersection area, and inside [0, min(areas)]."""
    from fractions import Fraction

    from sdg_engine.queries.spatial import AOI_RING
    from sdg_engine.queries.spatial import country_clip_area

    out = _pdf(country_clip_area(spark, SF)).set_index("country_code")
    from sdg_engine.fixtures import get_country_rings

    clip = [(Fraction(x), Fraction(y)) for x, y in AOI_RING[:-1]]

    def sh_exact(subject):
        cur = [(Fraction(x), Fraction(y)) for x, y in subject]
        n = len(clip)
        for i in range(n):
            ax, ay = clip[i]
            bx, by = clip[(i + 1) % n]
            inp, cur = cur, []
            if not inp:
                break
            for j in range(len(inp)):
                sx, sy = inp[j - 1]
                ex, ey = inp[j]
                s_in = (bx - ax) * (sy - ay) - (by - ay) * (sx - ax) >= 0
                e_in = (bx - ax) * (ey - ay) - (by - ay) * (ex - ax) >= 0
                if e_in != s_in:
                    den = (ex - sx) * (by - ay) - (ey - sy) * (bx - ax)
                    tn = (ax - sx) * (by - ay) - (ay - sy) * (bx - ax)
                    t = tn / den
                    cur.append((sx + t * (ex - sx), sy + t * (ey - sy)))
                if e_in:
                    cur.append((ex, ey))
        return cur

    def area_exact(ring):
        s = Fraction(0)
        for i in range(len(ring)):
            x0, y0 = ring[i]
            x1, y1 = ring[(i + 1) % len(ring)]
            s += x0 * y1 - x1 * y0
        return abs(s) / 2

    for cc, ring in get_country_rings().items():
        ring = [tuple(map(float, p)) for p in ring]
        if ring[0] == ring[-1]:
            ring = ring[:-1]
        inter = sh_exact(ring)
        a_i = float(area_exact(inter)) if len(inter) >= 3 else 0.0
        a_c = float(area_exact(ring))
        row = out.loc[cc]
        assert abs(int(row.inter_area_nano) - a_i * 1e9) <= 1.0
        assert 0 <= int(row.inter_area_nano) <= int(row.country_area_nano)
        assert abs(int(row.country_area_nano) - a_c * 1e9) <= 1.0


def test_clip_kernel_identity_and_containment():
    import numpy as np

    from sdg_engine.geom import clip_polygon_convex, ring_area_seq
    from sdg_engine.queries.spatial import AOI_RING

    aoi = np.array(AOI_RING[:-1], dtype=np.float64)
    self_clip = clip_polygon_convex(aoi, aoi)
    assert abs(abs(ring_area_seq(self_clip)) - abs(ring_area_seq(aoi))) < 1e-9
    # a tiny square inside the AOI survives unchanged
    cx, cy = 6.3, 3.7
    sq = np.array([(cx - .1, cy - .1), (cx + .1, cy - .1),
                   (cx + .1, cy + .1), (cx - .1, cy + .1)])
    out = clip_polygon_convex(sq, aoi)
    assert abs(abs(ring_area_seq(out)) - 0.04) < 1e-12


def test_topology_errors_match_bruteforce(spark):
    from sdg_engine.geom import point_segment_dist_sq
    from sdg_engine.queries._common import _fixture_images
    from sdg_engine.queries.spatial import roads_topology_errors
    from sdg_engine import METERS_PER_DEG

    out = _pdf(roads_topology_errors(spark, SF)).set_index("kind")
    rp = _pdf(_fixture_images(spark, SF, pin_sf=0.01)[1])
    segs = []  # (rs, ax, ay, bx, by, cellkey)
    for r in rp.itertuples():
        cs = [(c["x"], c["y"]) for c in r.coords]
        for a, b in zip(cs, cs[1:]):
            ck = (math.floor(a[0] * 10) * 100000 + math.floor(a[1] * 10))
            segs.append((r.road_id, a[0], a[1], b[0], b[1], ck))
    by_cell = {}
    for s in segs:
        by_cell.setdefault(s[5], []).append(s)
    hits = {}
    n_ends = {}
    for r in rp.itertuples():
        cs = [(c["x"], c["y"]) for c in r.coords]
        for ei, (px, py) in enumerate([cs[0], cs[-1]]):
            n_ends[r.kind] = n_ends.get(r.kind, 0) + 1
            cx, cy = math.floor(px * 10), math.floor(py * 10)
            found = False
            for ox in (-1, 0, 1):
                for oy in (-1, 0, 1):
                    for s in by_cell.get((cx + ox) * 100000 + cy + oy, []):
                        if s[0] == r.road_id:
                            continue
                        ax, ay, bx, by = s[1:5]
                        dx, dy = bx - ax, by - ay
                        l2 = dx * dx + dy * dy
                        t = ((px - ax) * dx + (py - ay) * dy) / l2 if l2 else 0
                        tt = min(1.0, max(0.0, t))
                        d = math.hypot(px - (ax + tt * dx),
                                       py - (ay + tt * dy)) * METERS_PER_DEG
                        if d <= 100.0 and 0.05 < tt < 0.95:
                            found = True
            if found:
                k = r.kind
                hits.setdefault(k, [0, 0])
                hits[k][0] += 1
                hits[k][1] += r.road_id * 2 + ei
    for kind in n_ends:
        row = out.loc[kind]
        assert int(row.n_endpoints) == n_ends[kind]
        got = hits.get(kind, [0, 0])
        assert int(row.n_undershoots) == got[0]
        assert int(row.chk) == got[1]


def test_tfrecord_codec_public_vectors_and_corruption():
    import os
    import tempfile

    from sdg_engine.tfrecord import (
        crc32c, decode_example, encode_example, read_tfrecords,
        write_tfrecords,
    )

    # CRC32C public test vectors (RFC 3720 appendix B.4)
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0
    assert crc32c(bytes(32)) == 0x8A9136AA
    assert crc32c(bytes([0xFF] * 32)) == 0x62A8AB43
    ex = encode_example({
        "doc_id": 42, "text": b"hello \x00 world", "lang": b"en",
        "toks": [0, 1, 300, -5, 2**62],
    })
    d = decode_example(ex)
    assert d["doc_id"] == [42]
    assert d["text"] == b"hello \x00 world"
    assert d["toks"] == [0, 1, 300, -5, 2**62]
    p = tempfile.mktemp()
    write_tfrecords(p, [ex, encode_example({"doc_id": 7})])
    blob = open(p, "rb").read()
    recs = read_tfrecords(blob)
    assert len(recs) == 2
    assert decode_example(recs[1])["doc_id"] == [7]
    # single-bit corruption in the payload must be caught by the CRC
    bad = bytearray(blob)
    bad[20] ^= 0x01
    try:
        read_tfrecords(bytes(bad))
        assert False, "corruption not detected"
    except ValueError:
        pass
    os.remove(p)


def test_webdataset_shards_parse_and_group(spark):
    """The exported tar shards must parse with stock tarfile and group
    into (image, caption) samples matching the source exactly."""
    import glob
    import io
    import tarfile

    from sdg_engine.queries._common import _fixture_images
    from sdg_engine.queries.lakehouse import webdataset_roundtrip_images

    out = _pdf(webdataset_roundtrip_images(spark, SF)).set_index("fmt")
    src = _pdf(
        _fixture_images(spark, SF, pin_sf=0.01)[0]
        .filter("image_id < 'img000000000200'")
        .select("image_id", "fmt", "bytes", "caption")
    )
    assert int(out.n_samples.sum()) == len(src)
    per_fmt = src.groupby("fmt").size()
    for fmt in per_fmt.index:
        assert int(out.loc[fmt].n_samples) == int(per_fmt[fmt])
        grp = src[src.fmt == fmt]
        assert int(out.loc[fmt].sum_len) == int(
            grp.bytes.map(len).sum()
        )


def test_bpe_training_matches_counter_twin(spark):
    """Scalar Counter-based BPE twin over the sf0.001 corpus (the
    committed golden pins sf0.01; this pins the engine loop at another
    scale, so the multi-round merge application is load-bearing)."""
    from collections import Counter

    from sdg_engine.queries.text import bpe_train_merges

    out = _pdf(bpe_train_merges(spark, SF))
    docs = _pdf(spark.read.parquet(f"{SF}/documents.parquet"))
    words = Counter()
    for t in docs.text:
        for w in t.split(" "):
            if w:
                words[w] += 1
    vocab = {w: [list(w), c] for w, c in words.items()}
    expect = []
    for rank in range(1, 9):
        pc = Counter()
        for toks, c in vocab.values():
            for x, y in zip(toks, toks[1:]):
                pc[(x, y)] += c
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        expect.append((rank, a, b, cnt))
        for entry in vocab.values():
            t, res, i = entry[0], [], 0
            while i < len(t):
                if i + 1 < len(t) and t[i] == a and t[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(t[i])
                    i += 1
            entry[0] = res
    got = [(int(r.rank), r.lhs, r.rhs, int(r.cnt))
           for r in out.itertuples()]
    assert sorted(got) == expect
    # multi-round dependency: at least one later merge must consume a
    # token PRODUCED by an earlier merge
    produced = {a + b for _, a, b, _ in expect}
    assert any(a in produced or b in produced for _, a, b, _ in expect[1:])


def test_aoi_length_matches_sampling(spark):
    """Second path: dense param sampling per segment (2000 points)
    approximates the inside fraction — must agree with the analytic
    t-interval within sampling error, and exactly on containment
    invariants (inside <= total, untouched kinds sum zero)."""
    from sdg_engine.queries.spatial import AOI_RING
    from sdg_engine.queries._common import _fixture_images
    from sdg_engine.queries.spatial import roads_in_aoi_length

    out = _pdf(roads_in_aoi_length(spark, SF))
    assert (out.sum_in_micros <= out.sum_len_micros).all()
    ring = np.array(AOI_RING[:-1])
    rp = _pdf(_fixture_images(spark, SF, pin_sf=0.01)[1])
    t = (np.arange(2000) + 0.5) / 2000

    def inside(px, py):
        ok = np.ones(len(px), dtype=bool)
        for k in range(len(ring)):
            x0, y0 = ring[k]
            x1, y1 = ring[(k + 1) % len(ring)]
            ok &= ((x1 - x0) * (py - y0) - (y1 - y0) * (px - x0)) >= 0
        return ok

    total_in = {}
    for r in rp.itertuples():
        cs = [(c["x"], c["y"]) for c in r.coords]
        acc = 0.0
        for (ax, ay), (bx, by) in zip(cs, cs[1:]):
            px = ax + t * (bx - ax)
            py = ay + t * (by - ay)
            frac = inside(px, py).mean()
            acc += frac * math.hypot(bx - ax, by - ay)
        total_in[r.kind] = total_in.get(r.kind, 0.0) + acc
    for r in out.itertuples():
        approx = total_in.get(r.kind, 0.0) * 1e6
        # sampling error bound: 1/2000 of each touched segment
        tol = max(2000.0, 0.002 * r.sum_len_micros)
        assert abs(int(r.sum_in_micros) - approx) < tol, r.kind


def test_ssim_kernel_bounds_and_identity():
    from sdg_engine.ops.payload import ssim_recon_kernel

    # constant image: reconstruction is exact -> SSIM == 1.0
    lum = np.full((16, 16), 100_000, dtype=np.int64)
    n, sy, ssim, chk = ssim_recon_kernel(lum)
    assert ssim == 1_000_000
    # checkerboard at pixel scale: downscale destroys everything ->
    # low SSIM; always within (0, 1] for nonneg luma
    cb = ((np.indices((16, 16)).sum(axis=0) % 2) * 255_000).astype(np.int64)
    n, sy, ssim, chk = ssim_recon_kernel(cb)
    assert 0 < ssim < 400_000
    # smooth gradient survives a pyramid level well
    gr = (np.arange(16)[:, None] * np.ones((1, 16)) * 10_000).astype(np.int64)
    n, sy, ssim, chk = ssim_recon_kernel(gr)
    assert ssim > 900_000


def test_winsorized_mean_matches_numpy(spark):
    from sdg_engine.queries.relational import supplier_winsorized_mean

    out = _pdf(supplier_winsorized_mean(spark, SF)).iloc[0]
    s = _pdf(spark.read.parquet(f"{SF}/supplier.parquet"))
    cents = np.floor(s.s_acctbal * 100 + 0.5).astype(np.int64).to_numpy()
    srt = np.sort(cents)
    n = len(srt)
    lo = int(srt[(n - 1) // 10])
    hi = int(srt[(9 * (n - 1)) // 10])
    assert int(out.lo) == lo and int(out.hi) == hi
    w = np.clip(cents, lo, hi)
    assert int(out.n) == n
    assert int(out.sum_w) == int(w.sum())
    assert int(out.wmean_millicents) == math.floor(
        float(w.sum()) / n * 1000.0
    )


def test_constraint_rejects_atomically(spark):
    """Direct protocol pin: a violating append writes NOTHING — the
    history and head content are unchanged after the rejection, and a
    new table refuses a bad FIRST commit entirely."""
    import os
    import tempfile

    from sdg_engine.queries._common import _stream_base
    from sdg_engine.storage import (
        read_snapshot, snapshot_history, table_check, write_snapshot,
    )

    base = tempfile.mkdtemp(prefix="chk_")
    path = os.path.join(base, "tbl")
    good = spark.createDataFrame(
        [(1, "en", 5), (2, "de", 7)],
        "doc_id bigint, lang string, n_chars bigint",
    )
    write_snapshot(good, path, check="n_chars > 0")
    assert table_check(path) == "n_chars > 0"
    bad = spark.createDataFrame(
        [(3, "fr", 0)], "doc_id bigint, lang string, n_chars bigint"
    )
    try:
        write_snapshot(bad, path)  # inherits the constraint
        raise AssertionError("violation not caught")
    except ValueError as e:
        assert "1 rows" in str(e)
    assert snapshot_history(path) == [1]
    assert read_snapshot(spark, path).count() == 2
    # a fresh table with a bad first commit leaves no snapshots at all
    p2 = os.path.join(base, "tbl2")
    try:
        write_snapshot(bad, p2, check="n_chars > 0")
        raise AssertionError("violation not caught")
    except ValueError:
        pass
    assert snapshot_history(p2) == []


def test_hourly_peaks_are_peaks(spark):
    from sdg_engine.queries.relational import events_hourly_peaks

    out = _pdf(events_hourly_peaks(spark, SF))
    ev = _pdf(spark.read.parquet(f"{SF}/events.parquet"))
    us = ev.ts.astype("datetime64[ns]").astype("int64") // 1000
    ev = ev.assign(h=us // 3_600_000_000,
                   cents=np.floor(ev.value * 100 + 0.5).astype(np.int64))
    hourly = ev.groupby("h").cents.sum()
    h0, h1 = int(hourly.index.min()), int(hourly.index.max())
    dense = hourly.reindex(range(h0, h1 + 1), fill_value=0)
    v = dense.to_numpy()
    p90 = int(np.sort(v)[(9 * (len(v) - 1)) // 10])
    peaks = []
    for i in range(3, len(v) - 3):
        if (v[i] > max(v[i - 3:i]) and v[i] > max(v[i + 1:i + 4])
                and v[i] >= p90):
            peaks.append((h0 + i, int(v[i])))
    assert sorted(zip(out.h, out.v)) == peaks
    assert (out.p90 == p90).all()


def test_train_export_job_end_to_end(spark):
    """The composed export job: selection counts recomputed through an
    INDEPENDENT pandas path (set-based dedup + rule recheck), shards
    parsed directly with the codec, manifest gates verified."""
    import json
    import os
    import tempfile

    from sdg_engine.jobs.train_export import run
    from sdg_engine.tfrecord import decode_example, read_tfrecords

    out = tempfile.mkdtemp(prefix="texp_t_")
    m = run(spark, SF, out)
    docs = _pdf(spark.read.parquet(f"{SF}/documents.parquet"))
    assert m["n_input"] == len(docs)
    # independent selection twin
    import re
    from collections import Counter

    def nkey(t):
        return re.sub(" +", " ",
                      re.sub("[^a-z0-9 ]", " ", t.lower())).strip()

    keeper = {}
    for r in docs.itertuples():
        k = nkey(r.text)
        if k not in keeper or r.doc_id < keeper[k]:
            keeper[k] = r.doc_id
    keep_ids = set()
    stop = {"the", "a", "of", "in", "and"}
    for r in docs.itertuples():
        if keeper[nkey(r.text)] != r.doc_id:
            continue
        toks = r.text.split(" ")
        n = len(toks)
        if not (20 <= n <= 10000):
            continue
        m3 = max(1, n - 2)
        sh = Counter(
            " ".join(toks[min(i + k, n - 1)] for k in range(3))
            for i in range(m3)
        )
        if max(sh.values()) / m3 >= 0.2:
            continue
        if sum(1 for t in toks if t in stop) / n < 0.02:
            continue
        keep_ids.add(r.doc_id)
    assert m["n_selected"] == len(keep_ids)
    assert m["verify"]["sum_ids"] == sum(keep_ids)
    # shards parse with the raw codec and carry exactly the kept ids
    got_ids = []
    sdir = os.path.join(out, "shards")
    for f in os.listdir(sdir):
        if f.startswith("shard-"):
            for rec in read_tfrecords(open(os.path.join(sdir, f), "rb").read()):
                got_ids.append(decode_example(rec)["doc_id"][0])
    assert sorted(got_ids) == sorted(keep_ids)
    manifest = json.load(open(os.path.join(out, "manifest.json")))
    assert manifest == m
