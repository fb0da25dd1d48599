"""INDEPENDENT invariant gates for the wave-26 operators."""

import numpy as np
import pandas as pd

SF = "/root/testdata/sf0.001"


def _pdf(df) -> pd.DataFrame:
    return df.toPandas()


# ---------------------------------------------------------------------------
# Harris kernel — analytic cases
# ---------------------------------------------------------------------------

def test_harris_flat_image_has_no_corners():
    from sdg_engine.ops.payload import harris_corner_kernel

    lum = np.full((20, 20), 120_000, dtype=np.int64)
    n_int, n_c, sum_rq, max_r, chk = harris_corner_kernel(lum)
    assert (n_int, n_c, sum_rq, max_r, chk) == (196, 0, 0, 0, 0)


def test_harris_square_corner_fires_once_edge_does_not():
    from sdg_engine.ops.payload import harris_corner_kernel

    # one bright square => one L-corner inside the interior
    lum = np.full((20, 20), 20_000, dtype=np.int64)
    lum[8:, 8:] = 240_000
    assert harris_corner_kernel(lum)[1] == 1
    # a pure vertical edge has rank-1 structure tensor: R <= 0 nowhere
    # above threshold, so zero corners
    lum2 = np.full((20, 20), 20_000, dtype=np.int64)
    lum2[:, 10:] = 240_000
    assert harris_corner_kernel(lum2)[1] == 0


def test_harris_engine_matches_scalar_reference():
    """Third mechanism: a fully scalar python reimplementation of the
    SPEC on a random raster must match the vectorized kernel."""
    from sdg_engine.ops.payload import HARRIS_T, harris_corner_kernel

    rng = np.random.RandomState(7)
    lum = rng.randint(0, 256, size=(16, 18)).astype(np.int64) * 1000
    g = lum // 1000
    h, w = g.shape

    def gxy(r, c):
        gx = (g[r - 1, c + 1] + 2 * g[r, c + 1] + g[r + 1, c + 1]) - (
            g[r - 1, c - 1] + 2 * g[r, c - 1] + g[r + 1, c - 1]
        )
        gy = (g[r + 1, c - 1] + 2 * g[r + 1, c] + g[r + 1, c + 1]) - (
            g[r - 1, c - 1] + 2 * g[r - 1, c] + g[r - 1, c + 1]
        )
        return int(gx), int(gy)

    def resp(r, c):  # r, c in original coords (3-border interior +1)
        sxx = syy = sxy = 0
        for dr in (-1, 0, 1):
            for dc in (-1, 0, 1):
                gx, gy = gxy(r + dr, c + dc)
                sxx += gx * gx
                syy += gy * gy
                sxy += gx * gy
        return 20 * (sxx * syy - sxy * sxy) - (sxx + syy) ** 2

    n_c = chk = sum_rq = 0
    max_r = -(1 << 62)
    cw = w - 6
    for r in range(3, h - 3):
        for c in range(3, w - 3):
            v = resp(r, c)
            max_r = max(max_r, v)
            if v > 0:
                sum_rq += v // 65536
            if v <= HARRIS_T:
                continue
            keep = True
            for dr in (-1, 0, 1):
                for dc in (-1, 0, 1):
                    if dr == 0 and dc == 0:
                        continue
                    nb = resp(r + dr, c + dc)
                    if dr < 0 or (dr == 0 and dc < 0):
                        keep &= v > nb
                    else:
                        keep &= v >= nb
            if keep:
                n_c += 1
                chk += (r - 3) * cw + (c - 3) + 1
    got = harris_corner_kernel(lum)
    assert got == ((h - 6) * (w - 6), n_c, sum_rq, max_r, chk)


# ---------------------------------------------------------------------------
# Copy-on-write delete — protocol invariants
# ---------------------------------------------------------------------------

def test_cow_delete_rewrites_only_affected_dirs(spark, tmp_path):
    from sdg_engine.storage import (
        delete_where_cow,
        read_snapshot,
        snapshot_history,
        write_snapshot,
    )

    path = str(tmp_path / "tbl")
    for k in range(4):
        df = spark.range(k * 10, (k + 1) * 10).selectExpr(
            "id", "id * 2 AS v"
        )
        write_snapshot(df.coalesce(1), path, mode="append")
    snap, n_rw, n_keep = delete_where_cow(spark, path, "id >= 15 AND id < 25")
    assert (snap, n_rw, n_keep) == (5, 2, 2)
    # head content: victims gone, everything else intact
    ids = sorted(r.id for r in read_snapshot(spark, path).collect())
    assert ids == [i for i in range(40) if not (15 <= i < 25)]
    # pre-delete snapshot unaffected (immutability)
    assert read_snapshot(spark, path, as_of=4).count() == 40
    # no-match delete is a no-op commit
    snap2, rw2, keep2 = delete_where_cow(spark, path, "id = 999")
    assert (snap2, rw2, keep2) == (5, 0, 3)
    assert snapshot_history(path)[-1] == 5


def test_cow_delete_refuses_mor_pending_head(spark, tmp_path):
    import pytest

    from sdg_engine.storage import (
        delete_from_snapshot,
        delete_where_cow,
        write_snapshot,
    )

    path = str(tmp_path / "tbl")
    df = spark.range(0, 10).selectExpr("id", "id AS v")
    write_snapshot(df.coalesce(1), path, mode="append")
    delete_from_snapshot(spark, path, spark.range(3, 4).selectExpr("id"), "id")
    with pytest.raises(ValueError, match="merge-on-read"):
        delete_where_cow(spark, path, "id = 5")


# ---------------------------------------------------------------------------
# Wilcoxon signed-rank — pure-python twin
# ---------------------------------------------------------------------------

def test_wilcoxon_matches_python_twin(spark):
    from sdg_engine.queries.relational import _DAY_US, events_wilcoxon

    out = _pdf(events_wilcoxon(spark, SF)).iloc[0]
    ev = _pdf(
        spark.read.parquet(f"{SF}/events.parquet").selectExpr(
            "unix_micros(CAST(ts AS TIMESTAMP)) AS us",
            "event_type",
            "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
        )
    )
    ev["d"] = ev.us // _DAY_US
    x = ev[ev.event_type == "view"].groupby("d").cents.sum()
    y = ev[ev.event_type == "click"].groupby("d").cents.sum()
    diffs = [
        int(x[d]) - int(y[d])
        for d in sorted(set(x.index) & set(y.index))
        if int(x[d]) != int(y[d])
    ]
    absd = sorted(abs(v) for v in diffs)
    w2p = w2m = 0
    for v in diffs:
        a = abs(v)
        lt = sum(1 for u in absd if u < a)
        eq = sum(1 for u in absd if u == a)
        r2 = 2 * lt + eq + 1  # twice the midrank
        if v > 0:
            w2p += r2
        else:
            w2m += r2
    assert int(out.n_pairs) == len(diffs)
    assert (int(out.w2_plus), int(out.w2_minus)) == (w2p, w2m)
    # rank-sum identity: W+ + W- = n(n+1)/2  (doubled units)
    n = len(diffs)
    assert int(out.w2_plus) + int(out.w2_minus) == n * (n + 1)


# ---------------------------------------------------------------------------
# Item-item CF — structural invariants + python twin
# ---------------------------------------------------------------------------

def test_brand_cf_matches_python_twin(spark):
    from sdg_engine.queries.relational import brand_affinity_cf

    out = _pdf(brand_affinity_cf(spark, SF))
    li = _pdf(spark.read.parquet(f"{SF}/lineitem.parquet")[
        ["l_orderkey", "l_partkey"]])
    od = _pdf(spark.read.parquet(f"{SF}/orders.parquet")[
        ["o_orderkey", "o_custkey"]])
    pt = _pdf(spark.read.parquet(f"{SF}/part.parquet")[
        ["p_partkey", "p_brand"]])
    m = li.merge(pt, left_on="l_partkey", right_on="p_partkey").merge(
        od, left_on="l_orderkey", right_on="o_orderkey"
    )
    cb = set(zip(m.o_custkey, m.p_brand))
    from collections import Counter, defaultdict

    nb = Counter(b for _, b in cb)
    by_cust = defaultdict(list)
    for c, b in cb:
        by_cust[c].append(b)
    cooc: Counter = Counter()
    for bs in by_cust.values():
        bs = sorted(set(bs))
        for i, a in enumerate(bs):
            for b in bs[i + 1:]:
                cooc[(a, b)] += 1
    sym = []
    for (a, b), n in cooc.items():
        s = n * n * 1_000_000 // (nb[a] * nb[b])
        sym.append((a, b, n, s))
        sym.append((b, a, n, s))
    want = []
    by_brand = defaultdict(list)
    for a, b, n, s in sym:
        by_brand[a].append((-s, b, n))
    for a, lst in by_brand.items():
        for rnk, (negs, b, n) in enumerate(sorted(lst)[:3], start=1):
            want.append((a, b, n, -negs, rnk))
    got = sorted(map(tuple, out[
        ["brand", "rec_brand", "n_both", "cos2_micros", "rnk"]].values))
    assert got == sorted(want)


def test_observe_metrics_consistency(spark):
    from sdg_engine.queries.relational import observe_scan_metrics

    out = _pdf(observe_scan_metrics(spark, SF)).iloc[0]
    # observed scan totals must equal the downstream aggregate totals
    assert int(out.n_rows) == int(out.group_rows)
    assert int(out.sum_cents) == int(out.group_cents)
    assert int(out.max_cents) <= int(out.sum_cents)
    assert int(out.n_groups) >= 1


# ---------------------------------------------------------------------------
# Zhang-Suen — scalar third mechanism + analytic cases
# ---------------------------------------------------------------------------

def test_zhang_suen_matches_scalar_reference():
    from sdg_engine.ops.payload import SKEL_T, zhang_suen_kernel

    rng = np.random.RandomState(11)
    lum = rng.randint(0, 256, size=(14, 17)).astype(np.int64) * 1000
    g = lum // 1000
    fg = {(r, c) for r in range(14) for c in range(17) if g[r, c] > SKEL_T}
    n_fg = len(fg)

    def nb(p, s):
        r, c = p
        offs = ((-1, 0), (-1, 1), (0, 1), (1, 1),
                (1, 0), (1, -1), (0, -1), (-1, -1))
        return [1 if (r + dr, c + dc) in s else 0 for dr, dc in offs]

    it = 0
    while True:
        changed = False
        for sub in (0, 1):
            kill = set()
            for p in fg:
                ns = nb(p, fg)
                b = sum(ns)
                a = sum(1 for k in range(8)
                        if ns[k] == 0 and ns[(k + 1) % 8] == 1)
                if not (2 <= b <= 6 and a == 1):
                    continue
                p2, _p3, p4, _p5, p6, _p7, p8, _p9 = ns
                if sub == 0:
                    ok = p2 * p4 * p6 == 0 and p4 * p6 * p8 == 0
                else:
                    ok = p2 * p4 * p8 == 0 and p2 * p6 * p8 == 0
                if ok:
                    kill.add(p)
            if kill:
                fg -= kill
                changed = True
        it += 1
        if not changed:
            break
    chk = sum(r * 17 + c + 1 for r, c in fg)
    assert zhang_suen_kernel(lum) == (n_fg, len(fg), it, chk)


def test_zhang_suen_line_is_fixed_point():
    from sdg_engine.ops.payload import zhang_suen_kernel

    lum = np.zeros((11, 11), dtype=np.int64)
    lum[5, 2:9] = 255_000
    n_fg, n_skel, n_iters, _ = zhang_suen_kernel(lum)
    assert (n_fg, n_skel, n_iters) == (7, 7, 1)


# ---------------------------------------------------------------------------
# Streaming python data source — multi-batch drain + python twin
# ---------------------------------------------------------------------------

def test_ticker_stream_matches_python_twin(spark):
    from collections import defaultdict

    from sdg_engine.queries.streaming import (
        _TICK_N,
        streaming_pysource_windows,
    )

    out = _pdf(streaming_pysource_windows(spark, SF))
    want = defaultdict(lambda: [0, 0, 0])
    for i in range(_TICK_N):
        hr = (1_600_000_000_000_000 + i * 37_000_000) // 3_600_000_000
        cents = (i * 7919) % 100_000
        e = want[hr]
        e[0] += 1
        e[1] += cents
        e[2] = max(e[2], cents)
    got = {
        int(r.hr): [int(r.n_events), int(r.sum_cents), int(r.max_cents)]
        for r in out.itertuples()
    }
    assert got == dict(want)
    assert int(out.n_events.sum()) == _TICK_N
    # the source caps each micro-batch at rows_per_batch=1000, so a
    # full drain necessarily crossed >= 5 offset ranges
    assert len(out) > 1


# ---------------------------------------------------------------------------
# BPE encode — full python twin at sf0.001
# ---------------------------------------------------------------------------

def test_bpe_encode_matches_python_twin(spark):
    from collections import Counter

    from sdg_engine.queries.text import bpe_encode_docs

    out = _pdf(bpe_encode_docs(spark, SF)).set_index("lang")
    docs = _pdf(
        spark.read.parquet(f"{SF}/documents.parquet")[["lang", "text"]]
    )
    words = Counter()
    for t in docs.text:
        for w in t.split(" "):
            if w:
                words[w] += 1
    vocab = {w: list(w) for w in words}
    for _ in range(8):
        pc = Counter()
        for w, toks in vocab.items():
            for x, y in zip(toks, toks[1:]):
                pc[(x, y)] += words[w]
        if not pc:
            break
        (a, b), _ = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        for w, t in vocab.items():
            res, i = [], 0
            while i < len(t):
                if i + 1 < len(t) and t[i] == a and t[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(t[i])
                    i += 1
            vocab[w] = res
    agg: dict = {}
    for lang, text in zip(docs.lang, docs.text):
        ws = [w for w in text.split(" ") if w]
        e = agg.setdefault(lang, [0, 0, 0, 0])
        e[0] += 1
        e[1] += len(ws)
        e[2] += sum(len(vocab[w]) for w in ws)
        e[3] += sum(len(w) for w in ws)
    for lang, (nd, sw, st, sc) in agg.items():
        row = out.loc[lang]
        assert (int(row.n_docs), int(row.sum_words),
                int(row.sum_tokens), int(row.sum_chars)) == (nd, sw, st, sc)
    # merges compress: tokens strictly fewer than chars
    assert int(out.sum_tokens.sum()) < int(out.sum_chars.sum())


# ---------------------------------------------------------------------------
# Wave 28: ANOVA / circular stats / cohort LTV — python twins
# ---------------------------------------------------------------------------

def test_anova_matches_python_twin(spark):
    from sdg_engine.queries.relational import _EV_TYPES, events_anova

    out = _pdf(events_anova(spark, SF)).iloc[0]
    ev = _pdf(spark.read.parquet(f"{SF}/events.parquet").selectExpr(
        "event_type", "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents"))
    groups = {t: ev[ev.event_type == t].cents.astype(int) for t in _EV_TYPES}
    n_all = len(ev)
    s_all = int(ev.cents.sum())
    gm = s_all / n_all
    ssb = ssw = 0.0
    for t in _EV_TYPES:
        g = groups[t]
        n, s, q = len(g), int(g.sum()), int((g * g).sum())
        m = s / n
        ssb += n * (m - gm) * (m - gm)
        ssw += q - m * s
    k = len(_EV_TYPES)
    import math

    f = math.floor(1e6 * (ssb / (k - 1)) / (ssw / (n_all - k)))
    assert int(out.n_all) == n_all
    assert int(out.f_micros) == f
    assert int(out.f_micros) > 0


def test_hour_circular_matches_python_twin(spark):
    import math

    from sdg_engine.queries.relational import events_hour_circular

    out = _pdf(events_hour_circular(spark, SF)).set_index("event_type")
    ev = _pdf(spark.read.parquet(f"{SF}/events.parquet").selectExpr(
        "event_type",
        "(unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000) % 24 AS h"))
    cos_fp = [round(math.cos(2 * math.pi * h / 24) * 1024) for h in range(24)]
    sin_fp = [round(math.sin(2 * math.pi * h / 24) * 1024) for h in range(24)]
    for t, grp in ev.groupby("event_type"):
        c = sum(cos_fp[int(h)] for h in grp.h)
        s = sum(sin_fp[int(h)] for h in grp.h)
        n = len(grp)
        r2 = (c * c + s * s) // (n * n) * 1_000_000 // 1_048_576
        row = out.loc[t]
        assert (int(row.n), int(row.c_fp), int(row.s_fp),
                int(row.r2_ppm)) == (n, c, s, r2)
        # concentration is bounded: R <= n  =>  R^2_ppm <= 1e6
        assert 0 <= r2 <= 1_000_000


def test_cohort_ltv_monotone_and_consistent(spark):
    from sdg_engine.queries.relational import orders_cohort_ltv

    out = _pdf(orders_cohort_ltv(spark, SF))
    o = _pdf(spark.read.parquet(f"{SF}/orders.parquet").selectExpr(
        "o_custkey AS cust",
        "CAST(EXTRACT(YEAR FROM o_orderdate) * 12"
        " + EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS m",
        "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents"))
    # cohort sizes: each customer in exactly one cohort
    first = o.groupby("cust").m.min()
    assert int(out.groupby("cm").n_cohort.first().sum()) == len(first)
    # LTV is nondecreasing in age within a cohort (cumulative DIV const)
    for _, grp in out.sort_values("age").groupby("cm"):
        v = list(grp.ltv_cents)
        assert v == sorted(v)
    # final-age cumulative spend equals the cohort's total spend
    o2 = o.merge(first.rename("cm"), left_on="cust", right_index=True)
    tot = o2.groupby("cm").cents.sum()
    last = out.sort_values("age").groupby("cm").ltv_cents.last()
    size = out.groupby("cm").n_cohort.first()
    for cm in tot.index:
        assert int(last[cm]) == int(tot[cm]) // int(size[cm])


# ---------------------------------------------------------------------------
# Wave 29: LBP / Canny NMS / zlib / pipe syntax
# ---------------------------------------------------------------------------

def test_lbp_matches_scalar_reference():
    from sdg_engine.ops.payload import lbp_texture_kernel

    rng = np.random.RandomState(5)
    lum = rng.randint(0, 256, size=(10, 12)).astype(np.int64) * 1000
    g = lum // 1000
    offs = ((-1, 0), (-1, 1), (0, 1), (1, 1),
            (1, 0), (1, -1), (0, -1), (-1, -1))
    n_u = s_c = chk = 0
    k_idx = 0
    for r in range(1, 9):
        for c in range(1, 11):
            bits = [1 if g[r + dr, c + dc] >= g[r, c] else 0
                    for dr, dc in offs]
            code = sum(b << k for k, b in enumerate(bits))
            t = sum(1 for k in range(8) if bits[k] != bits[(k + 1) % 8])
            if t <= 2:
                n_u += 1
            s_c += code
            chk += code * ((k_idx % 97) + 1)
            k_idx += 1
    assert lbp_texture_kernel(lum) == (80, n_u, s_c, chk)


def test_canny_nms_thins_vertical_edge_to_one_column():
    from sdg_engine.ops.payload import canny_nms_kernel

    lum = np.zeros((12, 12), dtype=np.int64)
    lum[:, 6:] = 255_000
    n_raw, n_thin, _ = canny_nms_kernel(lum)
    assert n_raw == 16 and n_thin == 8  # two raw columns -> one


def test_canny_nms_diagonal_edge_thins():
    from sdg_engine.ops.payload import canny_nms_kernel

    lum = np.zeros((16, 16), dtype=np.int64)
    for r in range(16):
        lum[r, r:] = 255_000
    n_raw, n_thin, _ = canny_nms_kernel(lum)
    assert 0 < n_thin < n_raw


def test_zlib_ratio_matches_python_twin(spark):
    import zlib
    from collections import defaultdict

    from sdg_engine.queries.text import doc_zlib_ratio

    out = _pdf(doc_zlib_ratio(spark, SF)).set_index("lang")
    docs = _pdf(spark.read.parquet(f"{SF}/documents.parquet")[
        ["lang", "text"]])
    agg = defaultdict(lambda: [0, 0, 0])
    for lang, text in zip(docs.lang, docs.text):
        raw = text.encode("utf-8")
        e = agg[lang]
        e[0] += 1
        e[1] += len(raw)
        e[2] += len(zlib.compress(raw, 6))
    for lang, (n, sr, sc) in agg.items():
        row = out.loc[lang]
        assert (int(row.n_docs), int(row.sum_raw),
                int(row.sum_comp)) == (n, sr, sc)
        assert int(row.ratio_mils) == sc * 1000 // sr
        assert 0 < int(row.ratio_mils) < 1000  # text compresses


def test_pipe_syntax_matches_dataframe_form(spark):
    from pyspark.sql import functions as F

    from sdg_engine.queries.relational import pipe_syntax_revenue

    out = _pdf(pipe_syntax_revenue(spark, SF)).set_index("rf")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    want = _pdf(
        li.filter("l_quantity >= 10")
        .selectExpr(
            "l_returnflag AS rf",
            "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents",
            "CAST(l_quantity AS BIGINT) AS qty",
        )
        .groupBy("rf")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s"),
             F.sum("qty").alias("q"))
    ).set_index("rf")
    assert sorted(out.index) == sorted(want.index)
    for rf in want.index:
        assert int(out.loc[rf].n) == int(want.loc[rf].n)
        assert int(out.loc[rf].sum_cents) == int(want.loc[rf].s)
        assert int(out.loc[rf].sum_qty) == int(want.loc[rf].q)
        assert int(out.loc[rf].avg_cents) == (
            int(want.loc[rf].s) // int(want.loc[rf].n)
        )


# ---------------------------------------------------------------------------
# Wave 30: pinball eval / FS dither / audio decimate
# ---------------------------------------------------------------------------

def test_pinball_conditioned_predictor_wins(spark):
    from sdg_engine.queries.relational import events_pinball_eval

    out = _pdf(events_pinball_eval(spark, SF))
    ev = _pdf(spark.read.parquet(f"{SF}/events.parquet").selectExpr(
        "event_type", "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents"))
    # exact nearest-rank p75 twin
    allc = sorted(ev.cents.astype(int))
    n = len(allc)
    pg = allc[(3 * n + 3) // 4 - 1]
    for row in out.itertuples():
        assert int(row.pred_global) == pg
        grp = sorted(ev[ev.event_type == row.event_type].cents.astype(int))
        m = len(grp)
        pt = grp[(3 * m + 3) // 4 - 1]
        assert int(row.pred_type) == pt
        lg = sum(3 * (y - pg) if y >= pg else pg - y for y in grp)
        lt = sum(3 * (y - pt) if y >= pt else pt - y for y in grp)
        assert (int(row.loss4_global), int(row.loss4_type)) == (lg, lt)
        # conditioning can't hurt at the group's own optimum quantile
        assert int(row.loss4_type) <= int(row.loss4_global)


def test_dither_mid_gray_is_half_on():
    from sdg_engine.ops.payload import dither_fs_kernel

    lum = np.full((32, 32), 128_000, dtype=np.int64)
    n, on, _ = dither_fs_kernel(lum)
    assert 0.45 < on / n < 0.55
    assert dither_fs_kernel(np.zeros((8, 8), dtype=np.int64))[1] == 0
    full = dither_fs_kernel(np.full((8, 8), 255_000, dtype=np.int64))
    assert full[1] == 64


def test_dither_matches_scalar_reference():
    from sdg_engine.ops.payload import dither_fs_kernel

    rng = np.random.RandomState(13)
    lum = rng.randint(0, 256, size=(9, 11)).astype(np.int64) * 1000
    buf = [[int(v) for v in row] for row in (lum // 1000)]
    n_on = chk = 0
    for r in range(9):
        for c in range(11):
            v = buf[r][c]
            on = v >= 128
            if on:
                n_on += 1
                chk += r * 11 + c + 1
            e = v - (255 if on else 0)
            if c + 1 < 11:
                buf[r][c + 1] += e * 7 // 16
            if r + 1 < 9:
                if c - 1 >= 0:
                    buf[r + 1][c - 1] += e * 3 // 16
                buf[r + 1][c] += e * 5 // 16
                if c + 1 < 11:
                    buf[r + 1][c + 1] += e * 1 // 16
    assert dither_fs_kernel(lum) == (99, n_on, chk)


def test_decimate_preserves_dc_and_halves_rate():
    import numpy as np

    from sdg_engine.codecs import encode_wav
    from sdg_engine.ops.multimodal import audio_decimate_stats

    # constant signal: half-band FIR (sum 32, /32) reproduces it
    pcm = np.full((200, 1), 1000, dtype=np.int16)
    import pandas as pd

    def run(pcm_arr, sr=16000):
        buf = encode_wav(pcm_arr, sr)
        return (
            ("m0", buf, "wav", sr, pcm_arr.shape[1],
             int(1000 * len(pcm_arr) / sr)),
        )

    from sdg_engine.ops.multimodal import AUDIO_SCHEMA  # noqa: F401
    # direct kernel-level check through the dataframe op
    from sdg_engine.session import get_spark

    spark = get_spark()
    df = spark.createDataFrame(
        list(run(pcm)),
        "media_id string, bytes binary, codec string, sample_rate int, "
        "n_channels int, duration_ms int",
    )
    row = audio_decimate_stats(df).collect()[0]
    assert row.n_in == 200
    assert row.n_out == (200 - 4) // 2 - 1  # n in [2, (len-4)//2]
    assert row.max_abs == 1000  # DC gain exactly 1
    assert row.sum_abs == row.n_out * 1000


# ---------------------------------------------------------------------------
# Wave 31: SimHash banded pairs / DoG blobs
# ---------------------------------------------------------------------------

def test_simhash_pairs_recall_vs_brute_force(spark):
    """Every hamming<=6 pair that shares at least one 12-bit band MUST
    be found (banding is exact for band-colliding pairs), and every
    reported pair must verify against brute-force hamming."""
    from sdg_engine.queries.text import simhash60
    from sdg_engine.queries.text import simhash_neardup_pairs

    out = _pdf(simhash_neardup_pairs(spark, SF))
    sigs = {r.doc_id: int(r.simhash)
            for r in simhash60(spark, SF).collect()}
    ids = sorted(sigs)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            x = sigs[a] ^ sigs[b]
            if bin(x).count("1") <= 6:
                if any(((x >> (12 * k)) & 4095) == 0 for k in range(5)):
                    want.add((a, b))
    got = {(int(r.doc_a), int(r.doc_b)) for r in out.itertuples()}
    assert got == want
    for r in out.itertuples():
        assert bin(sigs[r.doc_a] ^ sigs[r.doc_b]).count("1") == int(r.hamming)
        assert int(r.hamming) <= 6
    # pigeonhole: hamming <= 4 over 5 bands ALWAYS collides in a band
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if bin(sigs[a] ^ sigs[b]).count("1") <= 4:
                assert (a, b) in got


def test_dog_blob_kernel_finds_dot_and_matches_scalar():
    from sdg_engine.ops.payload import DOG_T, dog_blob_kernel

    lum = np.zeros((24, 24), dtype=np.int64)
    lum[11:13, 11:13] = 255_000
    n_core, n_b, n_d, s_abs, chk = dog_blob_kernel(lum)
    assert n_b == 1  # the dot is one bright extremum
    assert n_d >= 1  # with a dark ring around it
    # flat field: nothing
    assert dog_blob_kernel(np.full((20, 20), 99_000, np.int64))[1:3] == (0, 0)
    # scalar third mechanism on a random raster
    rng = np.random.RandomState(2)
    lum2 = rng.randint(0, 256, size=(15, 16)).astype(np.int64) * 1000

    def blur_scalar(a):
        hh, ww = a.shape
        t = [[sum(wt * int(a[r, c + k]) for k, wt in
                  enumerate((1, 4, 6, 4, 1))) for c in range(ww - 4)]
             for r in range(hh)]
        u = [[sum(wt * t[r + k][c] for k, wt in
                  enumerate((1, 4, 6, 4, 1))) // 256
              for c in range(ww - 4)] for r in range(hh - 4)]
        return u

    b1 = blur_scalar(lum2)
    b1a = np.array(b1, dtype=np.int64)
    b2 = np.array(blur_scalar(b1a), dtype=np.int64)
    dog = b1a[2:-2, 2:-2] - b2
    hh, ww = dog.shape
    n_b2 = n_d2 = chk2 = 0
    earlier = {(-1, -1), (-1, 0), (-1, 1), (0, -1)}
    for r in range(1, hh - 1):
        for c in range(1, ww - 1):
            v = int(dog[r, c])
            if abs(v) <= DOG_T:
                continue
            ok = True
            for dr in (-1, 0, 1):
                for dc in (-1, 0, 1):
                    if dr == 0 and dc == 0:
                        continue
                    nb = int(dog[r + dr, c + dc])
                    if v > 0:
                        ok &= (v > nb) if (dr, dc) in earlier else (v >= nb)
                    else:
                        ok &= (v < nb) if (dr, dc) in earlier else (v <= nb)
            if ok:
                if v > 0:
                    n_b2 += 1
                else:
                    n_d2 += 1
                chk2 += (r - 1) * (ww - 2) + (c - 1) + 1
    got = dog_blob_kernel(lum2)
    assert got[1] == n_b2 and got[2] == n_d2 and got[4] == chk2


# ---------------------------------------------------------------------------
# Wave 32: TF-IDF more-like-this / bipartite check
# ---------------------------------------------------------------------------

def test_tfidf_topk_matches_python_twin(spark):
    import math
    from collections import Counter

    from sdg_engine.queries.text import tfidf_cosine_topk

    out = _pdf(tfidf_cosine_topk(spark, SF))
    docs = _pdf(spark.read.parquet(f"{SF}/documents.parquet")[
        ["doc_id", "text"]])
    tf = {}
    for did, text in zip(docs.doc_id, docs.text):
        tf[int(did)] = Counter(w for w in text.split(" ") if w)
    n_docs = len(docs)
    df = Counter()
    for c in tf.values():
        for t in c:
            df[t] += 1
    w = {d: {t: n * ((n_docs * 16) // df[t]) for t, n in c.items()}
         for d, c in tf.items()}
    nrm = {d: sum(v * v for v in ws.values()) for d, ws in w.items()}
    q = w[0]
    scored = []
    for d, ws in w.items():
        if d == 0:
            continue
        shared = set(ws) & set(q)
        if not shared:
            continue
        dot = sum(ws[t] * q[t] for t in shared)
        cos = math.floor(1e6 * dot / (math.sqrt(nrm[d]) * math.sqrt(nrm[0])))
        scored.append((-cos, d, len(shared), cos))
    scored.sort()
    want = [(d, ns, cos, i + 1)
            for i, (_, d, ns, cos) in enumerate(scored[:10])]
    got = [(int(r.doc_id), int(r.n_shared), int(r.cos_micros), int(r.rnk))
           for r in out.sort_values("rnk").itertuples()]
    assert got == want
    # cosine is bounded and the list is sorted
    assert all(0 <= c <= 1_000_000 for _, _, c, _ in got)


def test_bipartite_check_matches_python_bfs(spark):
    import math
    from collections import deque

    from sdg_engine.queries._common import _fixture_images
    from sdg_engine.queries.graph import roads_bipartite_check

    out = _pdf(roads_bipartite_check(spark, SF)).iloc[0]
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
    hub = min(adj, key=lambda n: (-len(adj[n]), n))
    hops = {hub: 0}
    q = deque([hub])
    while q:
        u = q.popleft()
        for v in adj[u]:
            if v not in hops:
                hops[v] = hops[u] + 1
                q.append(v)
    n_edges = sum(1 for a in adj for b in adj[a]
                  if a < b and a in hops and b in hops)
    n_conf = sum(1 for a in adj for b in adj[a]
                 if a < b and a in hops and b in hops
                 and hops[a] % 2 == hops[b] % 2)
    assert int(out.n_visited) == len(hops)
    assert int(out.n_edges_comp) == n_edges
    assert int(out.n_conflicts) == n_conf
    assert int(out.is_bipartite) == (1 if n_conf == 0 else 0)


# ---------------------------------------------------------------------------
# Wave 33: two-proportion z-test + HHI concentration
# ---------------------------------------------------------------------------

def test_conversion_ztest_matches_scalar(spark):
    import math

    from sdg_engine.queries.relational import events_conversion_ztest

    out = _pdf(events_conversion_ztest(spark, SF)).iloc[0]
    ev = pd.read_parquet(SF + "/events.parquet",
                         columns=["ts", "event_type"])
    us = ev["ts"].astype("int64")
    mid = (int(us.min()) + int(us.max())) // 2
    first = us < mid
    hit = (ev["event_type"] == "purchase").astype(int)
    n1, x1 = int(first.sum()), int(hit[first].sum())
    n2, x2 = int((~first).sum()), int(hit[~first].sum())
    assert (int(out.n1), int(out.x1), int(out.n2), int(out.x2)) == \
        (n1, x1, n2, x2)
    p = (x1 + x2) / (n1 + n2)
    z = (x1 / n1 - x2 / n2) / math.sqrt(p * (1 - p) * (1 / n1 + 1 / n2))
    assert int(out.z_micros) == math.floor(1e6 * z)
    assert int(out.rate1_ppm) == x1 * 1_000_000 // n1
    assert int(out.rate2_ppm) == x2 * 1_000_000 // n2


def test_hhi_concentration_matches_scalar_and_bounds(spark):
    import math

    from sdg_engine.queries.relational import events_hhi_concentration

    out = _pdf(events_hhi_concentration(spark, SF))
    ev = pd.read_parquet(SF + "/events.parquet",
                         columns=["event_type", "user_id", "value"])
    ev["cents"] = np.floor(ev["value"] * 100 + 0.5).astype("int64")
    for r in out.itertuples():
        g = ev[ev["event_type"] == r.event_type]
        per = g.groupby("user_id")["cents"].sum()
        s, ss = int(per.sum()), int((per * per).sum())
        assert int(r.n_users) == per.size
        assert int(r.total_cents) == s
        want = ss // (s * s // 1_000_000)
        assert int(r.hhi_ppm) == want
        # HHI in (1e6/n, 1e6]: equality floor .. single-whale ceiling
        assert 1_000_000 // per.size <= int(r.hhi_ppm) <= 1_000_001


def test_hhi_concentration_large_totals_exact(spark, tmp_path):
    """Per-type cents totals past 4e9 (their squares overflow BIGINT)
    and past 4e12 (S² / 1e6 overflows BIGINT too): the query and its
    DuckDB oracle both match exact Python ints."""
    import duckdb

    from sdg_engine.oracles import ORACLES
    from sdg_engine.queries.relational import events_hhi_concentration

    users = [1, 2, 3, 4, 5]
    dollars = [25_000_000.0, 12_500_000.0, 7_000_000.0, 3.25, 0.5]
    ev = pd.DataFrame({
        "event_type": ["purchase"] * 5 + ["view"] * 5 + ["click"] * 5,
        "user_id": users * 3,
        "value": dollars + [1.0, 2.0, 3.0, 4.0, 5.0]
        + [4e10, 2.5e10, 1.25, 3.0, 1e10],
    })
    ev.to_parquet(tmp_path / "events.parquet", index=False)
    out = _pdf(events_hhi_concentration(spark, str(tmp_path)))
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM read_parquet("
                f"'{tmp_path / 'events.parquet'}')")
    oracle = con.execute(ORACLES["events_hhi_concentration"]).df()
    for t, g in ev.groupby("event_type"):
        cents = [int(c) for c in np.floor(g["value"] * 100 + 0.5)]
        s, ss = sum(cents), sum(c * c for c in cents)
        want = ss // (s * s // 1_000_000)
        for got in (out, oracle):
            r = got[got["event_type"] == t].iloc[0]
            assert int(r.total_cents) == s
            assert int(r.hhi_ppm) == want
    assert int(ev[ev.event_type == "purchase"].value.sum() * 100) > 4e9
    assert int(ev[ev.event_type == "click"].value.sum() * 100) > 4e12
