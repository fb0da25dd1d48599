"""INDEPENDENT invariant gates for the wave-34 API-surface operators."""

import pandas as pd

SF = "/root/testdata/sf0.001"


def _pdf(df) -> pd.DataFrame:
    return df.toPandas()


def test_sql_udf_matches_inline_expression(spark):
    from pyspark.sql import functions as F

    from sdg_engine.queries.relational import sql_udf_revenue

    out = _pdf(sql_udf_revenue(spark, SF)).set_index("flag")
    li = spark.read.parquet(SF + "/lineitem.parquet")
    want = _pdf(
        li.groupBy(F.col("l_returnflag").alias("flag")).agg(
            F.sum(
                F.expr(
                    "CAST(FLOOR(CAST(l_extendedprice AS DOUBLE)"
                    " * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)"
                )
            ).alias("revenue_cents")
        )
    ).set_index("flag")
    for flag in want.index:
        assert out.loc[flag, "revenue_cents"] == want.loc[flag, "revenue_cents"]


def test_session_variable_is_live_after_builder(spark):
    from sdg_engine.queries.relational import session_variable_segments

    session_variable_segments(spark, SF).collect()
    # the threshold variable holds the computed mean balance
    got = spark.sql("SELECT sv_min_bal AS v").collect()[0].v
    bal = pd.read_parquet(SF + "/customer.parquet", columns=["c_acctbal"])
    assert abs(got - float(bal["c_acctbal"].mean())) < 1e-9


def test_arrow_doc_stats_independent_of_batch_size(spark):
    from sdg_engine.queries.text import arrow_doc_stats

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    base = _pdf(arrow_doc_stats(spark, SF)).sort_values("lang")
    try:
        spark.conf.set(key, "7")
        tiny = _pdf(arrow_doc_stats(spark, SF)).sort_values("lang")
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    pd.testing.assert_frame_equal(
        base.reset_index(drop=True), tiny.reset_index(drop=True)
    )
    docs = pd.read_parquet(SF + "/documents.parquet",
                           columns=["lang", "text"])
    # scalar twin on one lang: bytes and whitespace tokens
    g = docs[docs["lang"] == base["lang"].iloc[0]]
    assert int(base["total_bytes"].iloc[0]) == int(
        g["text"].str.encode("utf-8").str.len().sum()
    )
    assert int(base["total_tokens"].iloc[0]) == int(
        g["text"].str.split().str.len().sum()
    )


def test_grouped_agg_median_matches_scalar(spark):
    from sdg_engine.queries.relational import grouped_agg_user_median

    out = _pdf(grouped_agg_user_median(spark, SF)).set_index("event_type")
    ev = pd.read_parquet(SF + "/events.parquet",
                         columns=["event_type", "user_id", "value"])
    ev["cents"] = (ev["value"] * 100 + 0.5).apply(int)
    for et, g in ev.groupby("event_type"):
        meds = g.groupby("user_id")["cents"].apply(
            lambda s: int(s.sort_values().iloc[(len(s) + 1) // 2 - 1])
        )
        assert int(out.loc[et, "n_users"]) == meds.size
        assert int(out.loc[et, "sum_medians"]) == int(meds.sum())
        assert int(out.loc[et, "max_median"]) == int(meds.max())
        assert int(out.loc[et, "n_events"]) == len(g)


# ---------------------------------------------------------------------------
# Avro object container codec
# ---------------------------------------------------------------------------

def test_avro_zigzag_spec_vectors():
    """Known vectors from the public Avro spec's binary-encoding table."""
    from sdg_engine.avro import write_long

    def enc(n):
        b = bytearray()
        write_long(b, n)
        return bytes(b)

    assert enc(0) == b"\x00"
    assert enc(-1) == b"\x01"
    assert enc(1) == b"\x02"
    assert enc(-2) == b"\x03"
    assert enc(2) == b"\x04"
    assert enc(-64) == b"\x7f"
    assert enc(64) == b"\x80\x01"


def test_avro_roundtrip_both_codecs_and_blocks(tmp_path):
    from sdg_engine.avro import MAGIC, read_avro, write_avro

    schema = {
        "type": "record", "name": "T",
        "fields": [
            {"name": "i", "type": "long"},
            {"name": "d", "type": "double"},
            {"name": "s", "type": "string"},
            {"name": "b", "type": "bytes"},
            {"name": "f", "type": "boolean"},
            {"name": "o", "type": ["null", "string"]},
        ],
    }
    recs = [
        {"i": k * 7 - 50, "d": k / 3.0, "s": f"row{k}é",
         "b": bytes([k % 256, 255 - k % 256]), "f": k % 2 == 0,
         "o": None if k % 3 == 0 else f"opt{k}"}
        for k in range(25)
    ]
    for codec in ("null", "deflate"):
        p = tmp_path / f"t_{codec}.avro"
        # block_records=10 -> 3 blocks: the reader must walk the chain
        write_avro(str(p), schema, recs, codec=codec, block_records=10)
        blob = p.read_bytes()
        assert blob[:4] == MAGIC
        got_schema, got = read_avro(blob)
        assert got_schema["fields"][0]["name"] == "i"
        assert got == recs


def test_avro_sync_marker_corruption_detected(tmp_path):
    import pytest

    from sdg_engine.avro import read_avro, write_avro

    schema = {"type": "record", "name": "T",
              "fields": [{"name": "i", "type": "long"}]}
    p = tmp_path / "t.avro"
    write_avro(str(p), schema, [{"i": 1}, {"i": 2}], block_records=1)
    blob = bytearray(p.read_bytes())
    blob[-1] ^= 0xFF  # flip one byte of the final sync marker
    with pytest.raises(ValueError, match="sync"):
        read_avro(bytes(blob))


# ---------------------------------------------------------------------------
# Wave 36: Nelson-Aalen + chi-squared feature selection
# ---------------------------------------------------------------------------

def test_nelson_aalen_matches_scalar(spark):
    from sdg_engine.queries.relational import events_nelson_aalen

    out = _pdf(events_nelson_aalen(spark, SF))
    ev = pd.read_parquet(SF + "/events.parquet",
                         columns=["user_id", "ts", "event_type"])
    ev["us"] = ev["ts"].astype("int64")
    subj = []
    for _, g in ev.groupby("user_id"):
        t0, t_last = int(g["us"].min()), int(g["us"].max())
        hits = g.loc[g["event_type"] == "purchase", "us"]
        if len(hits):
            subj.append(((int(hits.min()) - t0) // 3_600_000_000, 1))
        else:
            subj.append(((t_last - t0) // 3_600_000_000, 0))
    total = len(subj)
    per = {}
    for dur, event in subj:
        d, m = per.get(dur, (0, 0))
        per[dur] = (d + event, m + 1)
    seen = 0
    cum = 0
    want = []
    for dur in sorted(per):
        d, m = per[dur]
        n_risk = total - seen
        seen += m
        if d == 0:
            continue
        haz = d * 1_000_000_000 // n_risk
        cum += haz
        want.append((dur, d, n_risk, haz, cum))
    got = [tuple(int(v) for v in r)
           for r in out.sort_values("dur_hr").itertuples(index=False)]
    assert got == want
    # survival-table invariants
    risks = [r[2] for r in got]
    assert risks == sorted(risks, reverse=True)
    cums = [r[4] for r in got]
    assert cums == sorted(cums)


def test_doc_term_chisq_scalar_twin(spark):
    import math
    import re

    from sdg_engine.queries.text import doc_term_chisq

    out = _pdf(doc_term_chisq(spark, SF))
    docs = pd.read_parquet(SF + "/documents.parquet",
                           columns=["doc_id", "lang", "text"])
    n = len(docs)
    df_all: dict = {}
    df_lang: dict = {}
    n_lang = docs["lang"].value_counts().to_dict()
    for r in docs.itertuples():
        for t in set(x for x in re.split(r"[^a-z]+", r.text.lower()) if x):
            df_all[t] = df_all.get(t, 0) + 1
            df_lang[(r.lang, t)] = df_lang.get((r.lang, t), 0) + 1
    for row in out.itertuples():
        a = df_lang[(row.lang, row.term)]
        b = df_all[row.term] - a
        c = n_lang[row.lang] - a
        d = n - df_all[row.term] - c
        chi = (
            1e6 * float(n) * (float(a) * float(d) - float(b) * float(c))
            * (float(a) * float(d) - float(b) * float(c))
            / (float(a + b) * float(c + d) * float(a + c) * float(b + d))
        )
        assert int(row.chi2_micros) == math.floor(chi)
        assert int(row.a) == a
        assert row.chi2_micros >= 0
    # exactly 3 ranked terms per language
    for _, s in out.groupby("lang")["rnk"]:
        assert sorted(int(x) for x in s) == [1, 2, 3]


# ---------------------------------------------------------------------------
# Wave 37: Haar DWT + seam carving — analytic cases
# ---------------------------------------------------------------------------

def test_haar_flat_image_has_zero_detail_energy():
    import numpy as np

    from sdg_engine.ops.payload import haar_energy_kernel

    lum = np.full((16, 16), 100_000, dtype=np.int64)
    n_px, e_ll2, e_h1, e_v1, e_d1, e_h2, e_v2, e_d2 = haar_energy_kernel(lum)
    assert n_px == 256
    # flat field: ll2 coefficient = 16 * gray per block, details all 0
    assert e_ll2 == 16 * ((16 * 100) ** 2)
    assert (e_h1, e_v1, e_d1, e_h2, e_v2, e_d2) == (0, 0, 0, 0, 0, 0)


def test_haar_column_stripes_land_in_h_band_only():
    import numpy as np

    from sdg_engine.ops.payload import haar_energy_kernel

    # columns alternate a,b,a,b -> within every 2x2 block h = 2(a-b),
    # v = d = 0; level-2 input is a flat ll plane -> level-2 details 0
    lum = np.zeros((8, 8), dtype=np.int64)
    lum[:, 0::2] = 200_000
    lum[:, 1::2] = 50_000
    _, _, e_h1, e_v1, e_d1, e_h2, e_v2, e_d2 = haar_energy_kernel(lum)
    assert e_h1 == 16 * (2 * (200 - 50)) ** 2
    assert (e_v1, e_d1, e_h2, e_v2, e_d2) == (0, 0, 0, 0, 0)


def test_seam_avoids_bright_stripe_and_matches_scalar():
    import numpy as np

    from sdg_engine.ops.payload import seam_carve_kernel

    # a bright vertical stripe at col 5: energy is zero away from it,
    # so the min seam costs 0 and never touches cols 4..6
    lum = np.zeros((12, 12), dtype=np.int64)
    lum[:, 5] = 255_000
    cost, top, bottom, sum_e, chk = seam_carve_kernel(lum)
    assert cost == 0
    assert top not in (4, 5, 6) and bottom not in (4, 5, 6)
    # leftmost tie rule: the all-zero-energy seam hugs column 0
    assert top == 0 and bottom == 0

    # engine vs an independent scalar DP on a random integer image
    rng = np.random.default_rng(7)
    g = rng.integers(0, 256, size=(10, 9), dtype=np.int64)
    lum2 = g * 1000
    INF = 1 << 40
    h, w = g.shape
    gi = [[int(v) for v in row] for row in g]
    e = [[abs(gi[r][min(c + 1, w - 1)] - gi[r][max(c - 1, 0)])
          + abs(gi[min(r + 1, h - 1)][c] - gi[max(r - 1, 0)][c])
          for c in range(w)] for r in range(h)]
    m = [e[0][:]]
    for r in range(1, h):
        prev = m[r - 1]
        m.append([e[r][c] + min(prev[c - 1] if c > 0 else INF, prev[c],
                                prev[c + 1] if c + 1 < w else INF)
                  for c in range(w)])
    bot = min(range(w), key=lambda c: (m[h - 1][c], c))
    col = bot
    chk2 = (h - 1) * w + col + 1
    for r in range(h - 2, -1, -1):
        cand = [c for c in (col - 1, col, col + 1) if 0 <= c < w]
        col = min(cand, key=lambda c: (m[r][c], c))
        chk2 += r * w + col + 1
    got = seam_carve_kernel(lum2)
    assert got == (m[h - 1][bot], col, bot,
                   sum(sum(row) for row in e), chk2)


# ---------------------------------------------------------------------------
# Wave 38: encoded polyline
# ---------------------------------------------------------------------------

def test_polyline_matches_public_spec_vector():
    from sdg_engine.polyline import decode_polyline, encode_polyline

    pts = [(-120.2, 38.5), (-120.95, 40.7), (-126.453, 43.252)]
    s = encode_polyline(pts)
    # the canonical example from the public algorithm description
    assert s == "_p~iF~ps|U_ulLnnqC_mqNvxq`@"
    assert decode_polyline(s) == [
        (-12020000, 3850000), (-12095000, 4070000), (-12645300, 4325200)
    ]


def test_polyline_roundtrip_properties():
    import numpy as np

    from sdg_engine.polyline import decode_polyline, encode_polyline

    rng = np.random.default_rng(42)
    for n in (1, 2, 17):
        pts = [(float(x), float(y))
               for x, y in rng.uniform(-179.9, 179.9, size=(n, 2))]
        want = [(int(np.floor(x * 1e5 + 0.5)), int(np.floor(y * 1e5 + 0.5)))
                for x, y in pts]
        s = encode_polyline(pts)
        assert s.isascii() and all("?" <= ch <= "~" for ch in s)
        assert decode_polyline(s) == want


# ---------------------------------------------------------------------------
# Wave 40: modularity + language classifier
# ---------------------------------------------------------------------------

def test_community_modularity_identities(spark):
    import math

    from sdg_engine.queries.graph import community_modularity

    out = _pdf(community_modularity(spark, SF))
    m = None
    # recover m from any row's contrib identity: contrib = 4*m*m_in - D^2
    r0 = out[out["m_in"] > 0].iloc[0]
    m = (int(r0.contrib) + int(r0.deg_sum) ** 2) // (4 * int(r0.m_in))
    # handshake: community degree sums add to 2m; intra edges <= m
    assert int(out["deg_sum"].sum()) == 2 * m
    assert 0 <= int(out["m_in"].sum()) <= m
    # every row repeats the same global Q; recompute it from the parts
    q = set(int(v) for v in out["q_ppm"])
    assert len(q) == 1
    want_q = math.floor(1e6 * float(out["contrib"].sum()) / (4.0 * m * m))
    assert q == {want_q}
    assert -1_000_000 <= want_q <= 1_000_000
    # per-row identity holds everywhere
    for r in out.itertuples():
        assert int(r.contrib) == 4 * m * int(r.m_in) - int(r.deg_sum) ** 2


def test_doc_lang_classifier_matches_scalar(spark):
    import re

    from sdg_engine.queries.text import doc_lang_classifier

    out = _pdf(doc_lang_classifier(spark, SF))
    docs = pd.read_parquet(SF + "/documents.parquet",
                           columns=["doc_id", "lang", "text"])
    n = len(docs)
    doc_terms = {}
    df_all: dict = {}
    df_lang: dict = {}
    n_lang = docs["lang"].value_counts().to_dict()
    for r in docs.itertuples():
        ts = set(x for x in re.split(r"[^a-z]+", r.text.lower()) if x)
        doc_terms[r.doc_id] = (r.lang, ts)
        for t in ts:
            df_all[t] = df_all.get(t, 0) + 1
            df_lang[(t, r.lang)] = df_lang.get((t, r.lang), 0) + 1
    conf: dict = {}
    for doc_id, (true_lang, ts) in doc_terms.items():
        scores: dict = {}
        for t in ts:
            for wl in n_lang:
                a = df_lang.get((t, wl), 0)
                if a:
                    scores[wl] = scores.get(wl, 0) + (
                        a * n * 1_000_000 // (df_all[t] * n_lang[wl])
                    )
        pred = min(scores, key=lambda L: (-scores[L], L))
        k = (true_lang, pred)
        c = conf.get(k, (0, 0))
        conf[k] = (c[0] + 1, c[1] + scores[pred])
    got = {(r.true_lang, r.pred_lang): (int(r.n_docs), int(r.sum_score))
           for r in out.itertuples()}
    assert got == conf
    # row sums = per-language doc counts
    rows = out.groupby("true_lang")["n_docs"].sum().to_dict()
    assert rows == n_lang


# ---------------------------------------------------------------------------
# Wave 41: permutation test + Holt linear smoothing
# ---------------------------------------------------------------------------

def test_permutation_test_matches_scalar(spark):
    import hashlib

    from sdg_engine.queries.relational import events_permutation_test

    out = _pdf(events_permutation_test(spark, SF)).iloc[0]
    ev = pd.read_parquet(SF + "/events.parquet",
                         columns=["user_id", "ts", "value"])
    ev["us"] = ev["ts"].astype("int64")
    ev["cents"] = (ev["value"] * 100 + 0.5).apply(int)
    mid = (int(ev["us"].min()) + int(ev["us"].max())) // 2
    d = {}
    for r in ev.itertuples():
        d[r.user_id] = d.get(r.user_id, 0) + (
            r.cents if r.us >= mid else -r.cents
        )
    t_obs = sum(d.values())
    assert int(out.t_obs) == t_obs
    assert int(out.sum_abs_d) == sum(abs(v) for v in d.values())
    assert int(out.n_users) == len(d)
    n_ext = 0
    for k in range(200):
        t_k = 0
        for u, du in d.items():
            h = hashlib.md5(f"{u}:{k}".encode()).hexdigest()
            t_k += du if h[0] in "01234567" else -du
        if abs(t_k) >= abs(t_obs):
            n_ext += 1
    assert int(out.n_extreme) == n_ext
    assert int(out.p_milli) == (1 + n_ext) * 1000 // 201
    assert 0 < int(out.p_milli) <= 1000


def test_holt_linear_matches_scalar(spark):
    from sdg_engine.queries.relational import orders_holt_linear

    out = _pdf(orders_holt_linear(spark, SF)).sort_values("t")
    orders = pd.read_parquet(SF + "/orders.parquet",
                             columns=["o_orderdate"])
    y = orders.groupby("o_orderdate").size().sort_index().tolist()
    lv = [y[0] * 1000]
    tr = [(y[1] - y[0]) * 1000]
    for i in range(1, len(y)):
        l_new = (y[i] * 1000 + 4 * (lv[-1] + tr[-1])) // 5
        tr.append((l_new - lv[-1] + 9 * tr[-1]) // 10)
        lv.append(l_new)
    assert out["y"].tolist() == y
    assert out["level_milli"].tolist() == lv
    assert out["trend_milli"].tolist() == tr
    assert out["forecast_next_milli"].tolist() == [
        a + b for a, b in zip(lv, tr)
    ]


# ---------------------------------------------------------------------------
# Wave 42: biquad IIR + CUPED
# ---------------------------------------------------------------------------

def test_biquad_step_response_converges_to_dc_gain():
    import numpy as np

    from sdg_engine.ops.multimodal import (
        BIQUAD_A,
        BIQUAD_B,
        BIQUAD_Q,
        biquad_kernel,
    )

    # step input: y converges to x * (b0+b1+b2) / (Q - a1 - a2)
    x = np.full(400, 10_000, dtype=np.int64)
    y = biquad_kernel(x)
    dc = 10_000 * sum(BIQUAD_B) / (BIQUAD_Q - sum(BIQUAD_A))
    assert abs(y[-1] - dc) <= 2  # fixed-point settles within 2 LSB
    # stability: output bounded by ~2x input for a low-pass
    assert max(abs(v) for v in y) < 25_000


def test_biquad_engine_matches_fully_scalar():
    import numpy as np

    from sdg_engine.ops.multimodal import (
        BIQUAD_A,
        BIQUAD_B,
        BIQUAD_Q,
        biquad_kernel,
    )

    rng = np.random.default_rng(5)
    x = rng.integers(-32768, 32768, size=300, dtype=np.int64)
    b0, b1, b2 = BIQUAD_B
    a1, a2 = BIQUAD_A
    x1 = x2 = y1 = y2 = 0
    want = []
    for v in (int(u) for u in x):
        y = (b0 * v + b1 * x1 + b2 * x2 + a1 * y1 + a2 * y2) // BIQUAD_Q
        want.append(y)
        x2, x1 = x1, v
        y2, y1 = y1, y
    assert biquad_kernel(x) == want


def test_cuped_matches_scalar_and_bounds(spark):
    import math

    from sdg_engine.queries.relational import events_cuped_eval

    out = _pdf(events_cuped_eval(spark, SF)).iloc[0]
    ev = pd.read_parquet(SF + "/events.parquet",
                         columns=["user_id", "ts", "value"])
    ev["us"] = ev["ts"].astype("int64")
    ev["cents"] = (ev["value"] * 100 + 0.5).apply(int)
    mid = (int(ev["us"].min()) + int(ev["us"].max())) // 2
    pre, post = {}, {}
    for r in ev.itertuples():
        d = pre if r.us < mid else post
        d[r.user_id] = d.get(r.user_id, 0) + r.cents
    users = sorted(set(pre) | set(post))
    xs = [pre.get(u, 0) for u in users]
    ys = [post.get(u, 0) for u in users]
    n = len(users)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(v * v for v in xs)
    syy = sum(v * v for v in ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    assert (int(out.n), int(out.sx), int(out.sy), int(out.sxx),
            int(out.syy), int(out.sxy)) == (n, sx, sy, sxx, syy, sxy)
    cov = float(n) * float(sxy) - float(sx) * float(sy)
    vx = float(n) * float(sxx) - float(sx) * float(sx)
    vy = float(n) * float(syy) - float(sy) * float(sy)
    assert int(out.theta_micros) == math.floor(1e6 * cov / vx)
    assert int(out.var_reduction_ppm) == math.floor(1e6 * cov * cov / (vx * vy))
    # rho^2 in [0, 1]
    assert 0 <= int(out.var_reduction_ppm) <= 1_000_000


# ---------------------------------------------------------------------------
# Wave 43: linear attribution + Matryoshka recall
# ---------------------------------------------------------------------------

def test_attribution_linear_matches_scalar(spark):
    from sdg_engine.queries.relational import events_attribution_linear

    out = _pdf(events_attribution_linear(spark, SF))
    ev = pd.read_parquet(SF + "/events.parquet",
                         columns=["user_id", "event_id", "event_type",
                                  "ts"])
    ev["us"] = ev["ts"].astype("int64")
    ev["dow"] = ev["ts"].dt.strftime("%a")
    week = 7 * 86_400_000_000
    views = ev[ev["event_type"] == "view"]
    purch = ev[ev["event_type"] == "purchase"]
    touches = []  # (dow, view_id, purchase_id)
    for p in purch.itertuples():
        vs = views[(views["user_id"] == p.user_id)
                   & (views["us"] <= p.us)
                   & (p.us - views["us"] <= week)]
        for v in vs.itertuples():
            touches.append((v.dow, v.event_id, p.event_id))
    n_per = {}
    for _, _, pid in touches:
        n_per[pid] = n_per.get(pid, 0) + 1
    agg = {}
    for dow, vid, pid in touches:
        a = agg.setdefault(dow, [0, set(), set(), 0])
        a[0] += 1
        a[1].add(pid)
        a[2].add(vid)
        a[3] += 1_000_000 // n_per[pid]
    got = {r.dow: (int(r.n_touches), int(r.n_purchases),
                   int(r.n_views), int(r.credit_micros))
           for r in out.itertuples()}
    want = {d: (a[0], len(a[1]), len(a[2]), a[3]) for d, a in agg.items()}
    assert got == want
    # each purchase's credit sums to 1e6 - (1e6 mod n): total bound
    total = sum(a[3] for a in agg.values())
    n_attr = len(n_per)
    assert n_attr * (1_000_000 - max(n_per.values())) <= total \
        <= n_attr * 1_000_000


def test_matryoshka_recall_bounds_and_universe(spark):
    from sdg_engine.queries.ann import ann_matryoshka_recall

    out = _pdf(ann_matryoshka_recall(spark, SF))
    # one row per query vector, recall in {0, 333, 666, 1000}
    assert sorted(out["query_id"]) == list(range(len(out)))
    assert set(out["recall_mils"]).issubset({0, 333, 666, 1000})
    assert (out["n_hit"] * 1000 // 3 == out["recall_mils"]).all()


# ---------------------------------------------------------------------------
# Wave 44: template matching + Visvalingam-Whyatt
# ---------------------------------------------------------------------------

def test_template_match_finds_planted_template():
    import numpy as np

    from sdg_engine.ops.payload import (
        TEMPLATE_K,
        _match_template,
        template_match_kernel,
    )

    lum = np.full((32, 32), 200_000, dtype=np.int64)
    t = _match_template()
    lum[10:10 + TEMPLATE_K, 17:17 + TEMPLATE_K] = t * 1000
    n_pos, best_ssd, row, col, chk = template_match_kernel(lum)
    assert (best_ssd, row, col) == (0, 10, 17)
    assert n_pos == 25 * 25


def test_vw_keep_mask_properties():
    import numpy as np

    from sdg_engine.geom import vw_keep_mask

    # a truly collinear point costs 0 area and goes first; the spike
    # and its (area-inflated) neighbours survive a low threshold
    q = np.array([[0, 0], [100, 0], [200, 0], [300, 5000],
                  [400, 0], [500, 0]], dtype=np.int64)
    keep, removed = vw_keep_mask(q, 400_000)
    assert list(keep) == [True, False, True, True, True, True]
    assert removed == 0  # the collinear removal contributed zero area
    # a huge threshold flattens everything to the endpoints
    keep2, r_high = vw_keep_mask(q, 1 << 40)
    assert list(keep2) == [True, False, False, False, False, True]
    assert r_high >= removed


def test_vw_engine_matches_rescan_twin():
    import numpy as np

    from sdg_engine.geom import vw_keep_mask

    rng = np.random.default_rng(11)
    for _ in range(20):
        n = int(rng.integers(3, 30))
        q = rng.integers(-10_000, 10_000, size=(n, 2)).astype(np.int64)
        keep, removed = vw_keep_mask(q, 1_000_000)
        # full-rescan twin (the golden's mechanics)
        pts = [(int(a), int(b)) for a, b in q]
        idx = list(range(n))
        removed2 = 0
        while len(idx) > 2:
            areas = []
            for j in range(1, len(idx) - 1):
                (ax, ay), (bx, by), (cx, cy) = (
                    pts[idx[j - 1]], pts[idx[j]], pts[idx[j + 1]]
                )
                areas.append((abs((bx - ax) * (cy - ay)
                                  - (cx - ax) * (by - ay)), idx[j], j))
            a_min = min(areas)
            if a_min[0] >= 1_000_000:
                break
            removed2 += a_min[0]
            idx.pop(a_min[2])
        assert [bool(v) for v in keep] == \
            [i in (0, n - 1) or i in idx for i in range(n)]
        assert removed == removed2


# ---------------------------------------------------------------------------
# Wave 45: t-score collocations + median-cut palette
# ---------------------------------------------------------------------------

def test_tscore_matches_scalar_and_is_sorted(spark):
    import math

    from sdg_engine.queries.text import doc_collocation_tscore

    out = _pdf(doc_collocation_tscore(spark, SF)).sort_values("rnk")
    docs = pd.read_parquet(SF + "/documents.parquet", columns=["text"])
    big: dict = {}
    ux: dict = {}
    uy: dict = {}
    n_big = 0
    for text in docs["text"]:
        w = text.split(" ")
        for a, b in zip(w, w[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
            ux[a] = ux.get(a, 0) + 1
            uy[b] = uy.get(b, 0) + 1
            n_big += 1
    scored = []
    for (a, b), f in big.items():
        if f >= 5:
            t = 1e6 * (f - ux[a] * uy[b] / n_big) / math.sqrt(f)
            scored.append((-math.floor(t), a, b, f))
    scored.sort()
    want = [(i + 1, a, b, f, -nt)
            for i, (nt, a, b, f) in enumerate(scored[:10])]
    got = [(int(r.rnk), r.x, r.y, int(r.f_xy), int(r.t_micros))
           for r in out.itertuples()]
    assert got == want


def test_palette_mediancut_analytic_cases():
    import numpy as np

    from sdg_engine.ops.payload import palette_mediancut_kernel

    # single color: 1 unsplittable box, zero error
    px = np.full((8, 8, 3), 77, dtype=np.uint8)
    assert palette_mediancut_kernel(px) == (1, 1, 0, 77 * 65536 + 77 * 256 + 77)
    # exactly 8 distinct colors -> every box isolates one color, err 0
    px = np.zeros((2, 4, 3), dtype=np.uint8)
    for k in range(8):
        px[k // 4, k % 4] = (k * 30, 255 - k * 30, k * 7)
    n_distinct, n_boxes, err, chk = palette_mediancut_kernel(px)
    assert (n_distinct, n_boxes, err) == (8, 8, 0)
    # 16 distinct colors -> 8 boxes, error strictly positive
    px2 = np.zeros((4, 4, 3), dtype=np.uint8)
    for k in range(16):
        px2[k // 4, k % 4] = (k * 16, (k * 37) % 256, (k * 91) % 256)
    n_d2, n_b2, err2, _ = palette_mediancut_kernel(px2)
    assert (n_d2, n_b2) == (16, 8)
    assert err2 > 0


# ---------------------------------------------------------------------------
# Wave 46: metadata-only rename
# ---------------------------------------------------------------------------

def test_rename_column_chain_and_errors(spark, tmp_path):
    import pytest

    from sdg_engine.storage import (
        read_snapshot,
        rename_column,
        write_snapshot,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, 10), (2, 20)], "id bigint, v bigint")
    write_snapshot(df, path, mode="append")
    rename_column(path, "v", "val")
    with pytest.raises(ValueError, match="no column"):
        rename_column(path, "v", "x")  # old name is gone
    with pytest.raises(ValueError, match="already exists"):
        rename_column(path, "val", "id")
    # chained rename: val -> score; appends under the newest name land
    # in disk-name space and read back renamed
    rename_column(path, "val", "score")
    write_snapshot(
        spark.createDataFrame([(3, 30)], "id bigint, score bigint"),
        path, mode="append",
    )
    cur = read_snapshot(spark, path)
    assert set(cur.columns) == {"id", "score"}
    assert sorted((r.id, r.score) for r in cur.collect()) == \
        [(1, 10), (2, 20), (3, 30)]
    # pre-rename snapshot still reads the original name
    first = read_snapshot(spark, path, as_of=1)
    assert set(first.columns) == {"id", "v"}


def test_rename_column_swap_roundtrip(spark, tmp_path):
    # ADVICE r05: a SWAP through a temp name leaves renames = {a: b,
    # b: a}; the old chained withColumnRenamed application produced a
    # duplicate column on read and silently skipped the write-side
    # reverse mapping.  Pin the fixed simultaneous-projection behavior:
    # values follow their (swapped) names through read AND append.
    from sdg_engine.storage import (
        read_snapshot,
        rename_column,
        write_snapshot,
    )

    path = str(tmp_path / "tblswap")
    df = spark.createDataFrame([(1, 10, 100)], "id bigint, a bigint, b bigint")
    write_snapshot(df, path, mode="append")
    rename_column(path, "a", "tmpn")
    rename_column(path, "b", "a")
    rename_column(path, "tmpn", "b")  # net effect: a <-> b
    cur = read_snapshot(spark, path)
    assert sorted(cur.columns) == ["a", "b", "id"]  # no duplicates
    r = cur.collect()[0]
    assert (r.id, r.a, r.b) == (1, 100, 10)  # values swapped with names
    # append in CURRENT (swapped) name space: a carries the old b's role
    write_snapshot(
        spark.createDataFrame([(2, 200, 20)], "id bigint, a bigint, b bigint"),
        path, mode="append",
    )
    rows = sorted((r.id, r.a, r.b) for r in read_snapshot(spark, path).collect())
    assert rows == [(1, 100, 10), (2, 200, 20)]
    # pre-swap snapshot unaffected
    first = read_snapshot(spark, path, as_of=1)
    r0 = first.collect()[0]
    assert (r0.id, r0.a, r0.b) == (1, 10, 100)


# ---------------------------------------------------------------------------
# Wave 47: char-LM score + vocab coverage curve
# ---------------------------------------------------------------------------

def test_char_lm_score_matches_scalar(spark):
    from sdg_engine.queries.text import doc_char_lm_score

    out = _pdf(doc_char_lm_score(spark, SF)).set_index("lang")
    docs = pd.read_parquet(SF + "/documents.parquet",
                           columns=["doc_id", "lang", "text"])
    c_xy: dict = {}
    c_x: dict = {}
    for text in docs["text"]:
        for i in range(len(text) - 1):
            c_x[text[i]] = c_x.get(text[i], 0) + 1
            c_xy[text[i:i + 2]] = c_xy.get(text[i:i + 2], 0) + 1
    per_lang: dict = {}
    for r in docs.itertuples():
        t = r.text
        terms = [c_xy[t[i:i + 2]] * 1_000_000 // c_x[t[i]]
                 for i in range(len(t) - 1)]
        score = sum(terms) // len(terms)
        per_lang.setdefault(r.lang, []).append((score, r.doc_id))
    for lang, scores in per_lang.items():
        mean = sum(s for s, _ in scores) // len(scores)
        mn = min(scores)
        assert int(out.loc[lang, "n_docs"]) == len(scores)
        assert int(out.loc[lang, "mean_score_ppm"]) == mean
        assert int(out.loc[lang, "min_score_ppm"]) == mn[0]
        assert int(out.loc[lang, "worst_doc"]) == mn[1]
        # a probability mean stays inside (0, 1e6]
        assert 0 < mean <= 1_000_000


def test_vocab_coverage_curve_is_monotone_and_exact(spark):
    from collections import Counter

    from sdg_engine.queries.text import vocab_coverage_curve

    out = _pdf(vocab_coverage_curve(spark, SF)).sort_values("i")
    docs = pd.read_parquet(SF + "/documents.parquet", columns=["text"])
    cnt = Counter(w for t in docs["text"] for w in t.split(" ") if w)
    total = sum(cnt.values())
    ordered = sorted(cnt.items(), key=lambda e: (-e[1], e[0]))
    for r in out.itertuples():
        covered = sum(n for _, n in ordered[:int(r.k)])
        assert int(r.covered) == covered
        assert int(r.total) == total
        assert int(r.coverage_ppm) == covered * 1_000_000 // total
    cov = out["coverage_ppm"].tolist()
    assert cov == sorted(cov)  # Zipf concavity -> monotone coverage
    assert cov[-1] <= 1_000_000


# ---------------------------------------------------------------------------
# Wave 48: n-gram novelty + dedup impact
# ---------------------------------------------------------------------------

def test_ngram_novelty_matches_scalar(spark):
    from sdg_engine.queries.text import doc_ngram_novelty

    out = _pdf(doc_ngram_novelty(spark, SF)).set_index("lang")
    docs = pd.read_parquet(SF + "/documents.parquet",
                           columns=["doc_id", "lang", "text"]
                           ).sort_values("doc_id")
    owner: dict = {}
    rows = []
    for r in docs.itertuples():
        w = r.text.split(" ")
        shingles = [" ".join(w[i:i + 5]) for i in range(len(w) - 4)]
        for s in shingles:
            owner.setdefault(s, r.doc_id)
        rows.append((r.doc_id, r.lang, shingles))
    per_lang: dict = {}
    for doc_id, lang, shingles in rows:
        novel = sum(1 for s in shingles if owner[s] == doc_id)
        ppm = novel * 1_000_000 // len(shingles)
        a = per_lang.setdefault(lang, [0, 0, 0, 0, (1 << 62, -1)])
        a[0] += 1
        a[1] += len(shingles)
        a[2] += novel
        a[3] += ppm
        a[4] = min(a[4], (ppm, doc_id))
    for lang, a in per_lang.items():
        assert int(out.loc[lang, "n_docs"]) == a[0]
        assert int(out.loc[lang, "total_shingles"]) == a[1]
        assert int(out.loc[lang, "total_novel"]) == a[2]
        assert int(out.loc[lang, "mean_novelty_ppm"]) == a[3] // a[0]
        assert int(out.loc[lang, "least_novel_doc"]) == a[4][1]
    # first doc of the corpus is 100% novel by construction
    first = docs.iloc[0]
    assert all(owner[" ".join(first.text.split(" ")[i:i + 5])]
               == first.doc_id
               for i in range(len(first.text.split(" ")) - 4))


def test_dedup_impact_bounds(spark):
    from sdg_engine.queries.text import dedup_impact_report

    out = _pdf(dedup_impact_report(spark, SF))
    for r in out.itertuples():
        # dedup only removes: docs and tokens never grow, norm <= exact
        assert int(r.norm_docs) <= int(r.exact_docs) <= int(r.n_docs)
        assert int(r.norm_tokens) <= int(r.exact_tokens) <= int(r.n_tokens)
        assert 0 < int(r.norm_keep_ppm) <= int(r.exact_keep_ppm) <= 1_000_000
