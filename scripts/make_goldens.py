#!/usr/bin/env python
"""Generate the versioned golden fixtures (FIXTURES.md §4, SURVEY.md §5.2).

Pure numpy oracle — no Spark.  The goldens pin the engine's
reference-parity outputs ("matching the reference's join output rows
and tile assignments", BASELINE.json:14): tile assignments, nearest
road (with deterministic tie-break), spatial-join rows, and the
per-country RAI summary, all at sf0.001 (1000 images, 200 roads).

Run:  python scripts/make_goldens.py     (rewrites tests/goldens/*)
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sdg_engine import cells as C  # noqa: E402
from sdg_engine import fixtures as FX  # noqa: E402
from sdg_engine.geom import point_segment_dist_sq  # noqa: E402
from sdg_engine import METERS_PER_DEG  # noqa: E402

SF = 0.001
LEVEL_ASSIGN = 12  # tile-assignment cell level
KNN_CUTOFF_M = 60000.0
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "tests", "goldens")


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    n_images, _ = FX._sizes(SF)
    ids = np.array([f"img{i:012d}" for i in range(n_images)])
    lons, lats = FX.lonlat_batch(ids)
    roads = FX.roads_records(SF)

    # --- golden_tile_assignments: image -> cell(level 12) + country ---
    cells12 = C.point_cell(lons, lats, LEVEL_ASSIGN)
    ccs = FX.country_of_points(lons, lats)
    with open(os.path.join(OUT, "tile_assignments.json"), "w") as f:
        json.dump(
            [
                {"image_id": str(i), "cell_id": int(c), "country_code": str(k)}
                for i, c, k in zip(ids, cells12, ccs)
            ],
            f,
        )

    # --- segments + covers (shared by knn / join goldens) ---
    segs = []  # (road_id, seg_id, ax, ay, bx, by)
    for r in roads:
        pts = np.array([[p["x"], p["y"]] for p in r["coords"]])
        for s in range(len(pts) - 1):
            segs.append((r["road_id"], s, pts[s, 0], pts[s, 1], pts[s + 1, 0], pts[s + 1, 1]))
    seg_arr = np.array([(a, b, c, d) for _, _, a, b, c, d in segs])
    seg_ids = np.array([(rid, sid) for rid, sid, *_ in segs], dtype=np.int64)

    # --- golden_nearest_road: exact brute force + (dist, road_id, seg_id)
    # tie-break; k_ring = chebyshev(point cell idx, nearest seg-cover cell)
    level_knn = 0
    from sdg_engine.ops.spatial import level_for_cutoff  # numpy-free helper

    level_knn = level_for_cutoff(KNN_CUTOFF_M)
    pix, piy = C.xy_to_index(lons, lats, level_knn)
    nearest = []
    for j in range(len(ids)):
        d2 = point_segment_dist_sq(
            lons[j], lats[j], seg_arr[:, 0], seg_arr[:, 1], seg_arr[:, 2], seg_arr[:, 3]
        )
        dists = np.sqrt(d2) * METERS_PER_DEG
        order = np.lexsort((seg_ids[:, 1], seg_ids[:, 0], dists))
        best = order[0]
        if dists[best] <= KNN_CUTOFF_M:
            # k_ring: chebyshev distance from point cell to the nearest
            # covering cell of the winning segment's bbox
            ax, ay, bx, by = seg_arr[best]
            ix0, iy0 = C.xy_to_index(np.array([min(ax, bx)]), np.array([min(ay, by)]), level_knn)
            ix1, iy1 = C.xy_to_index(np.array([max(ax, bx)]), np.array([max(ay, by)]), level_knn)
            dx = max(int(ix0[0] - pix[j]), int(pix[j] - ix1[0]), 0)
            dy = max(int(iy0[0] - piy[j]), int(piy[j] - iy1[0]), 0)
            nearest.append(
                {
                    "image_id": str(ids[j]),
                    "road_id": int(seg_ids[best, 0]),
                    "dist_m": float(dists[best]),
                    "k_ring": int(max(dx, dy)),
                }
            )
    with open(os.path.join(OUT, "nearest_road.json"), "w") as f:
        json.dump(nearest, f)

    # --- golden_join_rows: point-cell ⋈ segment-bbox-cover at level 9 ---
    level_join = 7
    pcell = C.point_cell(lons, lats, level_join)
    row_idx, cover_cells = C.cover_bbox(
        np.minimum(seg_arr[:, 0], seg_arr[:, 2]),
        np.minimum(seg_arr[:, 1], seg_arr[:, 3]),
        np.maximum(seg_arr[:, 0], seg_arr[:, 2]),
        np.maximum(seg_arr[:, 1], seg_arr[:, 3]),
        level_join,
    )
    cell_to_roads: dict[int, set[int]] = {}
    for ri, cc_ in zip(row_idx, cover_cells):
        cell_to_roads.setdefault(int(cc_), set()).add(int(seg_ids[ri, 0]))
    join_rows = []
    for j in range(len(ids)):
        for rid in sorted(cell_to_roads.get(int(pcell[j]), ())):
            join_rows.append(
                {"image_id": str(ids[j]), "road_id": rid, "cell_id": int(pcell[j])}
            )
    with open(os.path.join(OUT, "join_rows.json"), "w") as f:
        json.dump(join_rows, f)

    # --- golden_rai_summary (per-country, burn/cost-distance based) ---
    from sdg_engine.ops.raster import tile_summary

    per_cc: dict[str, dict[str, float]] = {}
    for j in range(len(ids)):
        i = int(str(ids[j])[3:])
        half = 0.004 * (1.0 + (i % 5) / 4.0)
        fxmin, fymin, fxmax, fymax = lons[j] - half, lats[j] - half, lons[j] + half, lats[j] + half
        pop_total, pop_near, _pt, _pn = tile_summary(
            str(ids[j]),
            *_image_payload(i, lons[j], lats[j]),
            fxmin, fymin, fxmax, fymax,
            seg_arr, 250.0,
        )
        agg = per_cc.setdefault(ccs[j], {"n_images": 0, "n_near": 0, "pop_total": 0.0, "pop_near": 0.0})
        agg["n_images"] += 1
        agg["n_near"] += 1 if pop_near > 0 else 0
        agg["pop_total"] += pop_total
        agg["pop_near"] += pop_near
    summary = [
        {
            "country_code": k,
            "n_images": int(v["n_images"]),
            "n_near": int(v["n_near"]),
            "pop_total": round(v["pop_total"], 3),
            "pop_near": round(v["pop_near"], 3),
            "rai": round(v["pop_near"] / v["pop_total"], 6),
        }
        for k, v in sorted(per_cc.items())
    ]
    with open(os.path.join(OUT, "rai_summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    print(f"goldens written to {OUT}: {len(ids)} assignments, "
          f"{len(nearest)} nearest, {len(join_rows)} join rows, "
          f"{len(summary)} countries")
    make_decode_stats_golden()
    make_thumb_stats_golden()
    make_multimodal_goldens()
    make_rai_per_image_golden()
    make_cost_distance_golden()
    make_warp_golden()
    make_dp_golden()
    make_hillshade_golden()
    make_sobel_golden()
    make_flow_d8_golden()
    make_watershed_golden()
    make_viewshed_golden()
    make_pitfill_golden()
    make_glcm_golden()
    make_slope_aspect_golden()
    make_strahler_golden()
    make_hist_equalize_golden()
    make_morphology_golden()
    make_tpi_tri_golden()
    make_flow_length_golden()
    make_box_downscale_golden()
    make_median3_golden()
    make_quadtree_golden()
    make_pyramid_simplified_golden()
    make_hull_golden()
    make_contours_golden()
    make_regions_golden()
    make_stft_golden()


def make_decode_stats_golden() -> None:
    """Golden for the ORACLE-checked image_decode_stats query (r03).

    INDEPENDENT of the engine codecs by construction: pixels come from
    the fixture generator (the SPEC), and the lossy qnt transform is
    REIMPLEMENTED here (quantize to 64 levels, decode to bin centers)
    rather than imported from codecs.py — so a codec decode bug cannot
    leak into its own oracle.  jpg rows get NULL mean_lum: no
    independent JPEG decoder can exist in this container (jpeg.py IS
    the only one); jpg pixel fidelity is gated in tests/test_jpeg.py.
    Replicates fixtures.images_pdf's deterministic fmt/size assignment
    (FIXTURES.md: fmt = fmts[i %% 5], w = h = [32, 64, 128][i %% 3] at
    sf > 0.001) for the harness subset image_id < img…500 at sf0.01.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    fmts = FX.FMTS + ["qnt"]
    size_mix = [32, 64, 128]
    ids, lums = [], []
    for i in range(500):
        image_id = f"img{i:012d}"
        lon, lat = FX.lonlat_of(image_id)
        w = h = size_mix[i % len(size_mix)]
        fmt = fmts[i % len(fmts)]
        px = FX.make_image_pixels(i, lon, lat, w, h)
        if fmt == "qnt":
            # independent qnt twin: 64-level quantize → bin-center decode
            q = (px.astype(np.uint16) // 4).astype(np.uint8)
            px = np.minimum(q.astype(np.uint16) * 4 + 2, 255).astype(np.uint8)
        ids.append(image_id)
        if fmt == "jpg":
            lums.append(None)
        else:
            # EXACT expression shape of ops.payload.decode_stats (first
            # term astype'd, others upcast) so the float64 bits match
            lum = (
                0.299 * px[:, :, 0].astype(np.float64)
                + 0.587 * px[:, :, 1]
                + 0.114 * px[:, :, 2]
            )
            lums.append(float(lum.mean()))
    pq.write_table(
        pa.table({"image_id": ids, "mean_lum": pa.array(lums, pa.float64())}),
        os.path.join(OUT, "decode_stats_sf0.01.parquet"),
    )
    print(f"decode-stats golden: {len(ids)} rows "
          f"({sum(l is None for l in lums)} jpg NULLs)")


def make_thumb_stats_golden() -> None:
    """Golden for the ORACLE-checked image_thumbnails query (r03).

    INDEPENDENT of the engine resize/codecs: pixels come from the
    fixture generator (the SPEC), the qnt transform is the same
    reimplemented twin as the decode-stats golden, and the 16×16 box
    means are computed by RESHAPE block means (not the engine's cumsum
    inclusion-exclusion).  Fixture sizes 32/64/128 are exact multiples
    of 16 with power-of-two block areas, so both paths are float64-EXACT
    and the means match bit-for-bit.  jpg rows NULL (lossy decode)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fmts = FX.FMTS + ["qnt"]
    size_mix = [32, 64, 128]
    ids, lums = [], []
    for i in range(500):
        image_id = f"img{i:012d}"
        lon, lat = FX.lonlat_of(image_id)
        w = h = size_mix[i % len(size_mix)]
        fmt = fmts[i % len(fmts)]
        px = FX.make_image_pixels(i, lon, lat, w, h)
        if fmt == "qnt":
            q = (px.astype(np.uint16) // 4).astype(np.uint8)
            px = np.minimum(q.astype(np.uint16) * 4 + 2, 255).astype(np.uint8)
        ids.append(image_id)
        if fmt == "jpg":
            lums.append(None)
            continue
        b = h // 16  # block edge (2 / 4 / 8 — exact power-of-two areas)
        blocks = (
            px.astype(np.float64)
            .reshape(16, b, 16, b, 3)
            .sum(axis=(1, 3))
            / float(b * b)
        )
        thumb = np.clip(np.rint(blocks), 0, 255).astype(np.uint8)
        # EXACT expression shape of ops.payload.thumbnails for bit parity
        lum = (
            0.299 * thumb[:, :, 0].astype(np.float64)
            + 0.587 * thumb[:, :, 1]
            + 0.114 * thumb[:, :, 2]
        )
        lums.append(float(lum.mean()))
    pq.write_table(
        pa.table({"image_id": ids, "mean_lum": pa.array(lums, pa.float64())}),
        os.path.join(OUT, "thumb_stats_sf0.01.parquet"),
    )
    print(f"thumb-stats golden: {len(ids)} rows "
          f"({sum(l is None for l in lums)} jpg NULLs)")


def make_multimodal_goldens() -> None:
    """Goldens for the ORACLE-checked multimodal audio/video queries (r04).

    INDEPENDENT of the engine codecs: the clip waveforms / frame stacks
    are regenerated from the fixture SPEC (the seeded formulas documented
    in ops/multimodal.synth_audio_table / synth_video_table), the PCM16
    quantize rule is REIMPLEMENTED here (clip/round to int16 — never
    codecs.encode_wav), and no RIFF/rawvid container bytes are built or
    parsed.  A WAV/rawvid encode-decode bug or a feature-math regression
    on the Spark side therefore fails the driver's value hash.  Feature
    expressions mirror ops/multimodal.audio_features /
    video_frame_sample op-for-op so the float64 bits match."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # --- audio: seeded sine+noise clips → PCM16 twin → RMS/ZCR/peak ---
    rng = np.random.default_rng(1234)
    a_ids, a_rms, a_zcr, a_peak, a_n = [], [], [], [], []
    for i in range(64):
        sr = [16000, 22050, 44100][i % 3]
        n_ch = 1 + (i % 2)
        dur_ms = 40 + (i % 7) * 10
        t = np.arange(int(sr * dur_ms / 1000)) / sr
        freq = 220.0 * (1 + (i % 8))
        wave = 0.5 * np.sin(2 * np.pi * freq * t)
        wave = wave[:, None] + 0.05 * rng.standard_normal((len(t), n_ch))
        # independent PCM16 twin of the encode_wav quantize rule
        pcm = np.clip(np.round(wave * 32767.0), -32768, 32767).astype(np.int16)
        mono = (pcm.astype(np.float64) / 32768.0).mean(axis=1)
        a_ids.append(f"aud{i:08d}")
        a_rms.append(float(np.sqrt(np.mean(mono * mono))))
        a_zcr.append(float(np.mean(np.abs(np.diff(np.signbit(mono).astype(np.int8))))))
        a_peak.append(float(np.abs(mono).max()))
        a_n.append(len(mono))
    pq.write_table(
        pa.table({
            "media_id": a_ids,
            "rms": pa.array(a_rms, pa.float64()),
            "zcr": pa.array(a_zcr, pa.float64()),
            "peak": pa.array(a_peak, pa.float64()),
            "n_samples": pa.array(a_n, pa.int64()),
        }),
        os.path.join(OUT, "audio_features.parquet"),
    )

    # --- audio spectral twin (r04): same regenerated pcm → rfft ---
    # (second pass over the same seeded rng stream — rebuild it)
    rng = np.random.default_rng(1234)
    s_ids, s_cen, s_peak, s_en, s_nb = [], [], [], [], []
    for i in range(64):
        sr = [16000, 22050, 44100][i % 3]
        n_ch = 1 + (i % 2)
        dur_ms = 40 + (i % 7) * 10
        t = np.arange(int(sr * dur_ms / 1000)) / sr
        freq = 220.0 * (1 + (i % 8))
        wave = 0.5 * np.sin(2 * np.pi * freq * t)
        wave = wave[:, None] + 0.05 * rng.standard_normal((len(t), n_ch))
        pcm = np.clip(np.round(wave * 32767.0), -32768, 32767).astype(np.int16)
        mono = (pcm.astype(np.float64) / 32768.0).mean(axis=1)
        mag = np.abs(np.fft.rfft(mono))
        freqs = np.fft.rfftfreq(len(mono), 1.0 / sr)
        total = float(mag.sum())
        s_ids.append(f"aud{i:08d}")
        s_cen.append(float((freqs * mag).sum() / total) if total > 0 else 0.0)
        s_peak.append(float(freqs[int(np.argmax(mag))]))
        s_en.append(float((mag * mag).sum()))
        s_nb.append(len(mag))
    pq.write_table(
        pa.table({
            "media_id": s_ids,
            "centroid_hz": pa.array(s_cen, pa.float64()),
            "peak_hz": pa.array(s_peak, pa.float64()),
            "energy": pa.array(s_en, pa.float64()),
            "n_bins": pa.array(s_nb, pa.int32()),
        }),
        os.path.join(OUT, "audio_spectral.parquet"),
    )

    # --- video: seeded gradient+noise frame stacks → every-12th luma
    # + scene-cut invariants (r04) ---
    rng = np.random.default_rng(4321)
    v_ids, v_fi, v_t, v_lum = [], [], [], []
    c_ids, c_nf, c_nc, c_fc = [], [], [], []
    for i in range(32):
        w, h = 48, 32
        n_frames = 24 + (i % 4) * 12
        tt = np.arange(n_frames)[:, None, None]
        yy = np.arange(h)[None, :, None]
        xx = np.arange(w)[None, None, :]
        frames = ((xx * 3 + yy * 2 + tt * 7 + i * 11) % 256).astype(np.uint8)
        frames = np.clip(
            frames.astype(np.int16)
            + rng.integers(-8, 9, size=frames.shape, dtype=np.int16),
            0, 255,
        ).astype(np.uint8)
        fps = [24.0, 30.0][i % 2]
        for fi in range(0, n_frames, 12):
            v_ids.append(f"vid{i:08d}")
            v_fi.append(fi)
            v_t.append(float(fi / fps))
            v_lum.append(float(frames[fi].mean()))
        means = frames.reshape(len(frames), -1).mean(axis=1)
        jumps = np.abs(np.diff(means))
        cut_idx = np.nonzero(jumps > 3.0)[0] + 1
        c_ids.append(f"vid{i:08d}")
        c_nf.append(n_frames)
        c_nc.append(int(len(cut_idx)))
        c_fc.append(int(cut_idx[0]) if len(cut_idx) else -1)
    pq.write_table(
        pa.table({
            "media_id": c_ids,
            "n_frames": pa.array(c_nf, pa.int32()),
            "n_cuts": pa.array(c_nc, pa.int32()),
            "first_cut": pa.array(c_fc, pa.int32()),
        }),
        os.path.join(OUT, "video_cuts.parquet"),
    )
    pq.write_table(
        pa.table({
            "media_id": v_ids,
            "frame_idx": pa.array(v_fi, pa.int32()),
            "t_sec": pa.array(v_t, pa.float64()),
            "mean_luma": pa.array(v_lum, pa.float64()),
        }),
        os.path.join(OUT, "video_frames.parquet"),
    )
    print(f"multimodal goldens: {len(a_ids)} audio clips, "
          f"{len(v_ids)} sampled video frames")


# ---------------------------------------------------------------------------
# RAI per-image golden — INDEPENDENT twin of the full burn/cost-distance
# pipeline (r04; closes the last rows-only image query).
# ---------------------------------------------------------------------------


def _lb_clip_scalar(ax, ay, bx, by, xmin, ymin, xmax, ymax):
    """Liang-Barsky clip, SCALAR reimplementation of the spec formulas
    (geom.clip_segments_to_rect is the vectorized engine form).  The op
    sequence is identical per segment, so kept endpoints match the
    engine bit-for-bit; independent code path."""
    dx = bx - ax
    dy = by - ay
    t0, t1 = 0.0, 1.0
    for p, q in ((-dx, ax - xmin), (dx, xmax - ax),
                 (-dy, ay - ymin), (dy, ymax - ay)):
        if p == 0.0 and q < 0.0:
            return None
        r = q / p if p != 0.0 else 0.0
        if p < 0.0:
            t0 = max(t0, r)
        elif p > 0.0:
            t1 = min(t1, r)
    if t0 > t1:
        return None
    return ax + t0 * dx, ay + t0 * dy, ax + t1 * dx, ay + t1 * dy


def _burn_twin(w, h, xmin, ymin, xmax, ymax, cand):
    """Rasterize-by-dense-sampling twin of ops/raster.burn_mask: the
    documented sampling rule (n = max(2, ceil(2·length_px)+1) samples at
    t = i/(n-1)) implemented per segment in scalar Python instead of the
    engine's flattened cross-segment arrays.  Identical IEEE ops per
    sample ⇒ identical pixel sets."""
    mask = np.zeros((h, w), dtype=bool)
    pxw = (xmax - xmin) / w
    pxh = (ymax - ymin) / h
    for ax, ay, bx, by in cand:
        c = _lb_clip_scalar(ax, ay, bx, by, xmin, ymin, xmax, ymax)
        if c is None:
            continue
        cax, cay, cbx, cby = c
        length_px = max(abs(cbx - cax) / pxw, abs(cby - cay) / pxh)
        n = max(2, int(np.ceil(length_px * 2.0)) + 1)
        ddx = cbx - cax
        ddy = cby - cay
        for s in range(n):
            t = s / (n - 1)
            xs = cax + t * ddx
            ys = cay + t * ddy
            cs = min(max(int((xs - xmin) / pxw), 0), w - 1)
            rs = min(max(int((ymax - ys) / pxh), 0), h - 1)
            mask[rs, cs] = True
    return mask


def _chamfer34_twin(stack: np.ndarray) -> np.ndarray:
    """Exact 3-4 chamfer DT over an (N, h, w) mask stack via TRANSPOSED
    (column-major) pushbroom scans — the 3-4 DT is scan-order exact
    (Borgefors 1986), so values equal the engine's row-major transform
    bit-for-bit (all intermediates are integer-valued float64).  The
    engine transform itself is certified against a brute-force Dijkstra
    in tests/test_pipeline_ops.py."""
    t = np.where(stack, 0.0, np.float64(1e18)).transpose(0, 2, 1).copy()
    n, w, h = t.shape
    idx = np.arange(h) * 3.0
    for c in range(w):
        col = t[:, c]
        if c > 0:
            left = t[:, c - 1]
            col = np.minimum(col, left + 3.0)
            col[:, 1:] = np.minimum(col[:, 1:], left[:, :-1] + 4.0)
            col[:, :-1] = np.minimum(col[:, :-1], left[:, 1:] + 4.0)
        col = np.minimum.accumulate(col - idx, axis=1) + idx
        t[:, c] = col
    for c in range(w - 1, -1, -1):
        col = t[:, c]
        if c < w - 1:
            right = t[:, c + 1]
            col = np.minimum(col, right + 3.0)
            col[:, 1:] = np.minimum(col[:, 1:], right[:, :-1] + 4.0)
            col[:, :-1] = np.minimum(col[:, :-1], right[:, 1:] + 4.0)
        rev = col[:, ::-1]
        rev = np.minimum.accumulate(rev - idx, axis=1) + idx
        t[:, c] = rev[:, ::-1]
    return t.transpose(0, 2, 1) / 3.0


def rai_per_image_twin(sf: float, cutoff_m: float = 250.0):
    """Independent per-image RAI twin at scale ``sf``: returns a list of
    (image_id, country_code, pop_total_mils, pop_near_mils).

    Independence inventory (what a Spark-side regression here fails):
    pixels from the fixture GENERATOR (never decoded through the engine
    codecs — png/ppm/raw are lossless so generator pixels ARE the
    decode; qnt uses the reimplemented quantize twin); candidate
    segments by brute-force bbox prefilter over ALL roads (never the
    engine's cell cover/k-ring halo — so halo bugs fail the hash);
    scalar Liang-Barsky + sampling twins (above); transposed-scan
    chamfer; countries from fixtures.country_of_points (never the
    engine's two-stage cell+ray-cast assign).  The ONE self-referential
    slice: jpg pixels round-trip through the engine JPEG codec (no
    independent JPEG decoder can exist in this container — jpeg.py IS
    the only one); jpg fidelity is separately gated >= 40 dB against
    generator pixels in tests/test_jpeg.py."""
    import math

    from sdg_engine import METERS_PER_DEG as MPD

    seg_arr, bbox = _seg_index(sf)
    rows = []
    pend = []  # (row_idx, lum, mask, px_m) for tiles needing the DT
    for i, image_id, _fmt, lon, lat, w, h, px, half in _fixture_image_iter(sf):
        lum = _lum_raster(px)
        fx0, fy0, fx1, fy1 = lon - half, lat - half, lon + half, lat + half
        mask = _burn_twin(w, h, fx0, fy0, fx1, fy1,
                          _candidate_segs(seg_arr, bbox, fx0, fy0, fx1, fy1))
        cc = str(FX.country_of_points(np.array([lon]), np.array([lat]))[0])
        pop_total = float(lum.sum())
        if mask.any():
            px_m = (fx1 - fx0) / w * MPD
            pend.append((len(rows), lum, mask, px_m))
            rows.append([image_id, cc, pop_total, None])
        else:
            rows.append([image_id, cc, pop_total, 0.0])
    # batch the DT per shape (matches the engine's batching; values are
    # shape-independent)
    by_shape: dict[tuple, list[int]] = {}
    for j, (_, _, mask, _) in enumerate(pend):
        by_shape.setdefault(mask.shape, []).append(j)
    for shape, idxs in by_shape.items():
        dist = _chamfer34_twin(np.stack([pend[j][2] for j in idxs]))
        for k, j in enumerate(idxs):
            ridx, lum, _mask, px_m = pend[j]
            near = dist[k] * px_m <= cutoff_m
            rows[ridx][3] = float(lum[near].sum())
    out = []
    for image_id, cc, pt, pn in rows:
        out.append((
            image_id, cc,
            int(math.floor(pt * 1000.0 + 0.5)),
            int(math.floor(pn * 1000.0 + 0.5)),
        ))
    return out


def _fixture_image_iter(sf: float, n_limit: int | None = None,
                        jpg: str = "engine"):
    """ONE copy of the per-image fixture SPEC shared by every golden
    twin (r04 review: three generators had copy-pasted fmt cycle / qnt
    twin / jpg slice / footprint logic — a future FIXTURE_SPEC_VERSION
    bump must land in exactly one place).  Yields
    (i, image_id, fmt, lon, lat, w, h, px, half): pixels from the
    generator, qnt via the reimplemented quantize twin, jpg via the
    documented engine-codec slice (``jpg='skip'`` omits jpg rows)."""
    from sdg_engine.jpeg import decode_jpeg, encode_jpeg

    n_images, _ = FX._sizes(sf)
    if n_limit is not None:
        n_images = min(n_images, n_limit)
    fmts = FX.FMTS + ["qnt"]
    size_mix = [64] if sf <= 0.001 else [32, 64, 128]
    for i in range(n_images):
        image_id = f"img{i:012d}"
        fmt = fmts[i % len(fmts)]
        if fmt == "jpg" and jpg == "skip":
            continue
        lon, lat = FX.lonlat_of(image_id)
        w = h = size_mix[i % len(size_mix)]
        px = FX.make_image_pixels(i, lon, lat, w, h)
        if fmt == "qnt":
            q = (px.astype(np.uint16) // 4).astype(np.uint8)
            px = np.minimum(q.astype(np.uint16) * 4 + 2, 255).astype(np.uint8)
        elif fmt == "jpg":
            px = decode_jpeg(encode_jpeg(px))
        half = 0.004 * (1.0 + (i % 5) / 4.0)
        yield i, image_id, fmt, lon, lat, w, h, px, half


def _lum_raster(px: np.ndarray) -> np.ndarray:
    """Luminance in ops/raster's exact expression shape (all three
    channels astype'd) — bit parity with summarize_tile_rows."""
    return (
        0.299 * px[:, :, 0].astype(np.float64)
        + 0.587 * px[:, :, 1].astype(np.float64)
        + 0.114 * px[:, :, 2].astype(np.float64)
    )


def _seg_index(sf: float):
    """All road segments + bbox arrays for the brute-force candidate
    prefilter (shared by the rai and cost twins)."""
    roads = FX.roads_records(sf)
    segs = []
    for r in roads:
        pts = np.array([[p["x"], p["y"]] for p in r["coords"]])
        for s in range(len(pts) - 1):
            segs.append((pts[s, 0], pts[s, 1], pts[s + 1, 0], pts[s + 1, 1]))
    seg_arr = np.array(segs, dtype=np.float64)
    return seg_arr, (
        np.minimum(seg_arr[:, 0], seg_arr[:, 2]),
        np.maximum(seg_arr[:, 0], seg_arr[:, 2]),
        np.minimum(seg_arr[:, 1], seg_arr[:, 3]),
        np.maximum(seg_arr[:, 1], seg_arr[:, 3]),
    )


def _candidate_segs(seg_arr, bbox, fx0, fy0, fx1, fy1):
    sxmin, sxmax, symin, symax = bbox
    idx = np.nonzero(
        (sxmin <= fx1) & (sxmax >= fx0) & (symin <= fy1) & (symax >= fy0)
    )[0]
    return seg_arr[idx]


def _weighted_cost_twin(mask: np.ndarray, f: np.ndarray,
                        max_sweeps: int | None = None) -> np.ndarray:
    """Single-tile twin of ops/raster.weighted_cost_batch (same iterated
    weighted-sweep recurrence, independently written, identical IEEE op
    order — per-tile 1-D ops equal the engine's batched slab ops
    elementwise; same fixpoint contract incl. the 4·(h+w)+8 bound).
    The genuinely-different-algorithm certification is the brute-force
    Dijkstra in tests/test_pipeline_ops.py."""
    h, w = mask.shape
    if max_sweeps is None:
        max_sweeps = 4 * (h + w) + 8
    d = np.where(mask, 0.0, np.float64(1e18))
    wstep = 3.0 * (f[:, :-1] + f[:, 1:]) / 2.0
    W = np.zeros_like(f)
    W[:, 1:] = np.cumsum(wstep, axis=1)
    Wrev = np.zeros_like(f)
    Wrev[:, 1:] = np.cumsum(wstep[:, ::-1], axis=1)
    for _ in range(max_sweeps):
        before = d.copy()
        for r in range(h):
            row = d[r]
            if r > 0:
                up = d[r - 1]
                row = np.minimum(row, up + 3.0 * (f[r - 1] + f[r]) / 2.0)
                row[1:] = np.minimum(
                    row[1:], up[:-1] + 4.0 * (f[r - 1, :-1] + f[r, 1:]) / 2.0)
                row[:-1] = np.minimum(
                    row[:-1], up[1:] + 4.0 * (f[r - 1, 1:] + f[r, :-1]) / 2.0)
            row = np.minimum.accumulate(row - W[r]) + W[r]
            d[r] = row
        for r in range(h - 1, -1, -1):
            row = d[r]
            if r < h - 1:
                dn = d[r + 1]
                row = np.minimum(row, dn + 3.0 * (f[r + 1] + f[r]) / 2.0)
                row[1:] = np.minimum(
                    row[1:], dn[:-1] + 4.0 * (f[r + 1, :-1] + f[r, 1:]) / 2.0)
                row[:-1] = np.minimum(
                    row[:-1], dn[1:] + 4.0 * (f[r + 1, 1:] + f[r, :-1]) / 2.0)
            rev = row[::-1]
            rev = np.minimum.accumulate(rev - Wrev[r]) + Wrev[r]
            d[r] = rev[::-1]
        if np.array_equal(before, d):
            break
    else:
        raise ValueError("cost twin did not converge — raise max_sweeps")
    return d / 3.0


def cost_distance_per_image_twin(sf: float, n_limit: int,
                                 cutoff: float = 250.0):
    """Independent per-image twin for the friction cost-distance query:
    (image_id, pop_near_mils, px_near) for the first ``n_limit`` images.
    Friction = 1 + lum/255 from GENERATOR pixels (qnt reimplemented,
    jpg via the documented engine-codec slice); candidates, clip, burn
    as in rai_per_image_twin."""
    import math

    from sdg_engine import METERS_PER_DEG as MPD

    seg_arr, bbox = _seg_index(sf)
    out = []
    for i, image_id, _fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit
    ):
        lum = _lum_raster(px)
        fx0, fy0, fx1, fy1 = lon - half, lat - half, lon + half, lat + half
        mask = _burn_twin(w, h, fx0, fy0, fx1, fy1,
                          _candidate_segs(seg_arr, bbox, fx0, fy0, fx1, fy1))
        if mask.any():
            cost = _weighted_cost_twin(mask, 1.0 + lum / 255.0)
            px_m = (fx1 - fx0) / w * MPD
            near = cost * px_m <= cutoff
            pop_near = float(lum[near].sum())
            px_near = int(near.sum())
        else:
            pop_near, px_near = 0.0, 0
        out.append((image_id, int(math.floor(pop_near * 1000.0 + 0.5)), px_near))
    return out


def make_cost_distance_golden(sf: float = 0.01, n_limit: int = 2000) -> None:
    """Golden for the ORACLE-checked image_cost_distance query (r04):
    the A2 non-uniform-friction cost-distance surface, per image."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = cost_distance_per_image_twin(sf, n_limit)
    pq.write_table(
        pa.table({
            "image_id": [r[0] for r in rows],
            "pop_near_mils": pa.array([r[1] for r in rows], pa.int64()),
            "px_near": pa.array([r[2] for r in rows], pa.int32()),
        }),
        os.path.join(OUT, f"cost_distance_sf{sf:g}.parquet"),
    )
    n_near = sum(1 for r in rows if r[2] > 0)
    print(f"cost-distance golden: {len(rows)} rows ({n_near} with reachable px)")


def make_warp_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for the ORACLE-checked image_warp_utm query (r04): per
    image (non-jpg), the UTM-zone-31 nearest-neighbour warp checksums
    computed from GENERATOR pixels (qnt via the reimplemented quantize
    twin) — the engine side decodes fixture bytes through the codecs,
    so a codec or footprint regression flips the integer sums."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdg_engine.crs import warp_tile

    ids, sums, fills = [], [], []
    for _i, image_id, _fmt, lon, lat, _w, _h, px, half in _fixture_image_iter(
        sf, n_limit, jpg="skip"
    ):
        warped = warp_tile(
            px, (lon - half, lat - half, lon + half, lat + half),
            "UTM:31", 32, 32,
        )
        ids.append(image_id)
        sums.append(int(warped.astype(np.int64).sum()))
        fills.append(int((warped != 0).any(axis=2).sum()))
    pq.write_table(
        pa.table({
            "image_id": ids,
            "warp_sum": pa.array(sums, pa.int64()),
            "n_nonfill": pa.array(fills, pa.int32()),
        }),
        os.path.join(OUT, f"warp_utm_sf{sf:g}.parquet"),
    )
    print(f"warp golden: {len(ids)} rows")


def make_rai_per_image_golden(sf: float = 0.01) -> None:
    """Golden for the ORACLE-checked image_rai_summary query (r04; was
    rows-only): one row per image with integer-mils population sums —
    FLOOR(pop·1000 + 0.5), pure IEEE ops replicated by the Spark query —
    so the DuckDB oracle can aggregate per country EXACTLY (bigint sums,
    order-independent) while every per-image double is pinned
    bit-for-bit against the independent twin above."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = rai_per_image_twin(sf)
    pq.write_table(
        pa.table({
            "image_id": [r[0] for r in rows],
            "country_code": [r[1] for r in rows],
            "pop_total_mils": pa.array([r[2] for r in rows], pa.int64()),
            "pop_near_mils": pa.array([r[3] for r in rows], pa.int64()),
        }),
        os.path.join(OUT, f"rai_per_image_sf{sf:g}.parquet"),
    )
    n_near = sum(1 for r in rows if r[3] > 0)
    print(f"rai per-image golden: {len(rows)} rows ({n_near} near a road)")


def _image_payload(i: int, lon: float, lat: float):
    from sdg_engine.codecs import encode_image
    from sdg_engine.fixtures import FMTS, make_image_pixels

    fmts = FMTS + ["qnt"]
    fmt = fmts[i % len(fmts)]
    w = h = 64
    px = make_image_pixels(i, lon, lat, w, h)
    return encode_image(px, fmt), fmt, w, h


if __name__ == "__main__":
    main()


def _dp_keep_recursive(pts: list, eps: float) -> list:
    """Scalar RECURSIVE Douglas-Peucker twin (the independent
    counterpart of geom.dp_keep_mask's iterative numpy; identical
    deviation-metric expression ORDER per the geom.py SPEC)."""
    eps2 = eps * eps

    def rec(i, j, keep):
        if j - i < 2:
            return
        ax, ay = pts[i]
        bx, by = pts[j]
        dx = bx - ax
        dy = by - ay
        len2 = dx * dx + dy * dy
        best_k, best_m = -1, -1.0
        for k in range(i + 1, j):
            px, py = pts[k]
            if len2 == 0.0:
                m = (px - ax) * (px - ax) + (py - ay) * (py - ay)
            else:
                t = dx * (ay - py) - (ax - px) * dy
                m = t * t
            if m > best_m:
                best_k, best_m = k, m
        thr = eps2 if len2 == 0.0 else eps2 * len2
        if best_m > thr:
            keep[best_k] = True
            rec(i, best_k, keep)
            rec(best_k, j, keep)

    n = len(pts)
    keep = [False] * n
    keep[0] = keep[-1] = True
    if n >= 3:
        rec(0, n - 1, keep)
    return keep


def make_stft_golden() -> None:
    """Golden for the ORACLE-checked multimodal_audio_stft query (r05):
    the same regenerated-waveform + reimplemented-PCM16 twin as the
    other audio goldens, framed per the SPEC in
    ops/multimodal.audio_stft_frames (256-sample frames, hop 128,
    partial tails dropped)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    frame, hop = 256, 128
    rng = np.random.default_rng(1234)
    ids, fidx, en, cen = [], [], [], []
    for i in range(64):
        sr = [16000, 22050, 44100][i % 3]
        n_ch = 1 + (i % 2)
        dur_ms = 40 + (i % 7) * 10
        t = np.arange(int(sr * dur_ms / 1000)) / sr
        freq = 220.0 * (1 + (i % 8))
        wave = 0.5 * np.sin(2 * np.pi * freq * t)
        wave = wave[:, None] + 0.05 * rng.standard_normal((len(t), n_ch))
        pcm = np.clip(np.round(wave * 32767.0), -32768, 32767).astype(np.int16)
        mono = (pcm.astype(np.float64) / 32768.0).mean(axis=1)
        freqs = np.fft.rfftfreq(frame, 1.0 / sr)
        n_frames = max(0, (len(mono) - frame) // hop + 1)
        for f in range(n_frames):
            seg = mono[f * hop : f * hop + frame]
            mag = np.abs(np.fft.rfft(seg))
            total = float(mag.sum())
            ids.append(f"aud{i:08d}")
            fidx.append(f)
            en.append(float((mag * mag).sum()))
            cen.append(float((freqs * mag).sum() / total) if total > 0 else 0.0)
    pq.write_table(
        pa.table({
            "media_id": ids,
            "frame_idx": pa.array(fidx, pa.int32()),
            "energy": pa.array(en, pa.float64()),
            "centroid_hz": pa.array(cen, pa.float64()),
        }),
        os.path.join(OUT, "audio_stft.parquet"),
    )
    print(f"stft golden: {len(ids)} frames")


def make_dp_golden(sf: float = 0.01) -> None:
    """Golden for the ORACLE-checked roads_simplify_dp query (r05).

    INDEPENDENT of the engine kernel by construction: a scalar
    RECURSIVE Douglas-Peucker over the fixture generator's road
    records, vs the engine's iterative-stack vectorized numpy
    (geom.dp_keep_mask).  The deviation-metric expression ORDER is the
    shared SPEC (geom.py docstring) so float64 bits match at the
    keep/drop comparisons.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = []
    for r in FX.roads_records(sf):
        pts = [(float(p["x"]), float(p["y"])) for p in r["coords"]]
        keep = _dp_keep_recursive(pts, 0.01)
        mask = sum(1 << k for k, kk in enumerate(keep) if kk)
        rows.append((r["road_id"], len(pts), sum(keep), mask))
    pq.write_table(
        pa.table({
            "road_id": pa.array([r[0] for r in rows], pa.int64()),
            "n_pts": pa.array([r[1] for r in rows], pa.int32()),
            "n_kept": pa.array([r[2] for r in rows], pa.int32()),
            "kept_mask": pa.array([r[3] for r in rows], pa.int64()),
        }),
        os.path.join(OUT, f"dp_simplify_sf{sf:g}.parquet"),
    )
    kept = sum(r[2] for r in rows)
    total = sum(r[1] for r in rows)
    print(f"dp golden: {len(rows)} roads, kept {kept}/{total} points")


def make_pyramid_simplified_golden(sf: float = 0.01) -> None:
    """Golden for the ORACLE-checked mvt_pyramid_simplified query
    (r05): the recursive-DP twin's simplified segments per zoom (the
    oracle reruns the SAT-cover tile stats over these in SQL)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdg_engine.queries.spatial import PYR_SIMPLIFY_EPS

    zs, rids, sids, axs, ays, bxs, bys = [], [], [], [], [], [], []
    for r in FX.roads_records(sf):
        pts = [(float(p["x"]), float(p["y"])) for p in r["coords"]]
        for z, eps in sorted(PYR_SIMPLIFY_EPS.items()):
            keep = _dp_keep_recursive(pts, eps)
            kept = [k for k, kk in enumerate(keep) if kk]
            for si in range(len(kept) - 1):
                zs.append(z)
                rids.append(r["road_id"])
                sids.append(si)
                axs.append(pts[kept[si]][0])
                ays.append(pts[kept[si]][1])
                bxs.append(pts[kept[si + 1]][0])
                bys.append(pts[kept[si + 1]][1])
    pq.write_table(
        pa.table({
            "z": pa.array(zs, pa.int32()),
            "road_id": pa.array(rids, pa.int64()),
            "seg_id": pa.array(sids, pa.int32()),
            "ax": pa.array(axs, pa.float64()),
            "ay": pa.array(ays, pa.float64()),
            "bx": pa.array(bxs, pa.float64()),
            "byy": pa.array(bys, pa.float64()),
        }),
        os.path.join(OUT, f"pyramid_simplified_sf{sf:g}.parquet"),
    )
    print(f"pyramid-simplified golden: {len(zs)} segments across "
          f"{len(PYR_SIMPLIFY_EPS)} zooms")


def make_hull_golden(sf: float = 0.01) -> None:
    """Golden for the ORACLE-checked country_convex_hull query (r05):
    scalar monotone-chain twin over the fixture generator's road
    records (same SPEC comparisons as geom.convex_hull — strict turns,
    lexicographic dedup — reimplemented with python tuples)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    by_cc: dict[str, set] = {}
    for r in FX.roads_records(sf):
        pts = by_cc.setdefault(r["country_code"], set())
        for p in r["coords"]:
            pts.add((float(p["x"]), float(p["y"])))
    ccs, nh, area = [], [], []
    for cc in sorted(by_cc):
        u = sorted(by_cc[cc])

        def half(points):
            h = []
            for p in points:
                while len(h) >= 2:
                    ox, oy = h[-2]
                    ax, ay = h[-1]
                    if (ax - ox) * (p[1] - oy) - (ay - oy) * (p[0] - ox) <= 0.0:
                        h.pop()
                    else:
                        break
                h.append(p)
            return h

        if len(u) <= 2:
            hull = u
        else:
            hull = half(u)[:-1] + half(u[::-1])[:-1]
        s = 0.0
        if len(hull) >= 3:
            for i in range(len(hull)):
                x0, y0 = hull[i]
                x1, y1 = hull[(i + 1) % len(hull)]
                s = s + (x0 * y1 - x1 * y0)
            a = int(np.floor(0.5 * s * 1000000.0 + 0.5))
        else:
            a = 0
        ccs.append(cc)
        nh.append(len(hull))
        area.append(a)
    pq.write_table(
        pa.table({
            "country_code": ccs,
            "n_hull": pa.array(nh, pa.int32()),
            "area_mils": pa.array(area, pa.int64()),
        }),
        os.path.join(OUT, f"hull_sf{sf:g}.parquet"),
    )
    print(f"hull golden: {len(ccs)} countries, hull sizes {nh}")


def make_contours_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for the ORACLE-checked image_contours query (r05):
    generator pixels (jpg skipped — decode-stats NULL policy) through
    the SPEC marching-squares case grid, with the per-case segment
    count derived from an explicit 16-entry lookup TABLE here (vs the
    engine's nested np.where) — integer arithmetic end to end."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdg_engine.ops.payload import CONTOUR_ISO

    seg_lut = np.array([0, 1, 1, 1, 1, 2, 1, 1, 1, 1, 2, 1, 1, 1, 1, 0],
                       dtype=np.int64)
    ids, ncells, ncross, nsegs, scase = [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        lum = _lum_raster(px)
        m = lum >= CONTOUR_ISO
        case = (
            m[:-1, :-1].astype(np.int64)
            + 2 * m[:-1, 1:].astype(np.int64)
            + 4 * m[1:, 1:].astype(np.int64)
            + 8 * m[1:, :-1].astype(np.int64)
        )
        segs = seg_lut[case]
        ids.append(image_id)
        ncells.append(int(case.size))
        ncross.append(int((segs > 0).sum()))
        nsegs.append(int(segs.sum()))
        scase.append(int(case.sum()))
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_cells": pa.array(ncells, pa.int32()),
            "n_crossed": pa.array(ncross, pa.int32()),
            "n_segments": pa.array(nsegs, pa.int32()),
            "sum_case": pa.array(scase, pa.int64()),
        }),
        os.path.join(OUT, f"contours_sf{sf:g}.parquet"),
    )
    print(f"contours golden: {len(ids)} rows")


def make_regions_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for the ORACLE-checked image_regions query (r05):
    INDEPENDENT flood-fill labeling (explicit stack, pixel-at-a-time)
    vs the engine's scan-line union-find — sizes are labeling-order
    free, so the two structures must agree exactly.  jpg skipped."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, nreg, largest, nfg = [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        lum = _lum_raster(px)
        mask = lum >= 128.0
        seen = np.zeros_like(mask, dtype=bool)
        sizes = []
        hh, ww = mask.shape
        for y0 in range(hh):
            for x0 in range(ww):
                if mask[y0, x0] and not seen[y0, x0]:
                    stack = [(y0, x0)]
                    seen[y0, x0] = True
                    n = 0
                    while stack:
                        y, x = stack.pop()
                        n += 1
                        for dy, dx in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                            yy2, xx2 = y + dy, x + dx
                            if (0 <= yy2 < hh and 0 <= xx2 < ww
                                    and mask[yy2, xx2] and not seen[yy2, xx2]):
                                seen[yy2, xx2] = True
                                stack.append((yy2, xx2))
                    sizes.append(n)
        ids.append(image_id)
        nreg.append(len(sizes))
        largest.append(max(sizes) if sizes else 0)
        nfg.append(int(mask.sum()))
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_regions": pa.array(nreg, pa.int32()),
            "largest_px": pa.array(largest, pa.int32()),
            "n_fg": pa.array(nfg, pa.int32()),
        }),
        os.path.join(OUT, f"regions_sf{sf:g}.parquet"),
    )
    print(f"regions golden: {len(ids)} rows")


def make_sobel_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for the ORACLE-checked image_sobel_edges query (r05).

    INDEPENDENT of the engine decode path: pixels from the fixture
    generator via _fixture_image_iter (jpg skipped, same policy as
    hillshade); the 3x3 views are clamp-indexed on the UNPADDED raster
    (vs the engine's np.pad).  Everything is int64 (BT.601 milli-luma,
    L1 magnitude) so parity is exact by construction.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdg_engine.ops.payload import SOBEL_EDGE_T

    def edge_view(z, dr, dc):
        h, w = z.shape
        ri = np.clip(np.arange(h) + dr, 0, h - 1)
        ci = np.clip(np.arange(w) + dc, 0, w - 1)
        return z[np.ix_(ri, ci)]

    ids, n_pxs, n_edges, sums, maxs = [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        lum = (299 * px[:, :, 0].astype(np.int64)
               + 587 * px[:, :, 1].astype(np.int64)
               + 114 * px[:, :, 2].astype(np.int64))
        tl, t, tr = (edge_view(lum, -1, -1), edge_view(lum, -1, 0),
                     edge_view(lum, -1, 1))
        l, r = edge_view(lum, 0, -1), edge_view(lum, 0, 1)
        bl, b, br = (edge_view(lum, 1, -1), edge_view(lum, 1, 0),
                     edge_view(lum, 1, 1))
        gx = (tr + 2 * r + br) - (tl + 2 * l + bl)
        gy = (bl + 2 * b + br) - (tl + 2 * t + tr)
        mag = np.abs(gx) + np.abs(gy)
        ids.append(image_id)
        n_pxs.append(int(mag.size))
        n_edges.append(int((mag > SOBEL_EDGE_T).sum()))
        sums.append(int(mag.sum()))
        maxs.append(int(mag.max()))
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_px": pa.array(n_pxs, pa.int32()),
            "n_edges": pa.array(n_edges, pa.int32()),
            "sum_mag": pa.array(sums, pa.int64()),
            "max_mag": pa.array(maxs, pa.int64()),
        }),
        os.path.join(OUT, f"sobel_sf{sf:g}.parquet"),
    )
    print(f"sobel golden: {len(ids)} rows (jpg skipped)")


def make_flow_d8_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for the ORACLE-checked image_flow_d8 query (r05).

    INDEPENDENT of the engine path end to end: pixels from the fixture
    generator (vs engine decode); the steepest-descent target via a
    stacked-drops argmax (np.argmax returns the FIRST max index — the
    same first-in-order tie-break the SPEC fixes) vs the engine's
    incremental best/where loop; accumulation via memoized iterative
    POSTORDER DFS over the reverse adjacency (children lists) vs the
    engine's elevation-ordered single sweep.  All int64 — exact parity.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    offs = ((-1, 0), (-1, 1), (0, 1), (1, 1),
            (1, 0), (1, -1), (0, -1), (-1, -1))

    def clamp_view(z, dr, dc):
        h, w = z.shape
        ri = np.clip(np.arange(h) + dr, 0, h - 1)
        ci = np.clip(np.arange(w) + dc, 0, w - 1)
        return z[np.ix_(ri, ci)], ri, ci

    ids, n_pxs, sinks, sums, maxs, chks = [], [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        lum = (299 * px[:, :, 0].astype(np.int64)
               + 587 * px[:, :, 1].astype(np.int64)
               + 114 * px[:, :, 2].astype(np.int64))
        hh, ww = lum.shape
        drops = np.empty((len(offs), hh, ww), dtype=np.int64)
        targets = np.empty((len(offs), hh, ww), dtype=np.int64)
        for k, (dr, dc) in enumerate(offs):
            nb, ri, ci = clamp_view(lum, dr, dc)
            drops[k] = lum - nb
            targets[k] = ri[:, None] * ww + ci[None, :]
        kbest = np.argmax(drops, axis=0)  # first max index
        maxdrop = np.take_along_axis(drops, kbest[None], 0)[0]
        tflat = np.take_along_axis(targets, kbest[None], 0)[0].ravel()
        tflat = np.where(maxdrop.ravel() > 0, tflat, -1)
        n = hh * ww
        children: list[list[int]] = [[] for _ in range(n)]
        for c, t in enumerate(tflat.tolist()):
            if t >= 0:
                children[t].append(c)
        acc = [0] * n
        done = [False] * n
        for s in range(n):
            if done[s]:
                continue
            stack = [(s, False)]
            while stack:
                c, expanded = stack.pop()
                if done[c]:
                    continue
                if expanded:
                    acc[c] = 1 + sum(acc[u] for u in children[c])
                    done[c] = True
                else:
                    stack.append((c, True))
                    stack.extend((u, False) for u in children[c]
                                 if not done[u])
        a = np.asarray(acc, dtype=np.int64)
        wgt = (np.arange(n, dtype=np.int64) % 97) + 1
        ids.append(image_id)
        n_pxs.append(n)
        sinks.append(int((tflat < 0).sum()))
        sums.append(int(a.sum()))
        maxs.append(int(a.max()))
        chks.append(int((a * wgt).sum()))
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_px": pa.array(n_pxs, pa.int32()),
            "n_sinks": pa.array(sinks, pa.int32()),
            "sum_acc": pa.array(sums, pa.int64()),
            "max_acc": pa.array(maxs, pa.int64()),
            "chk": pa.array(chks, pa.int64()),
        }),
        os.path.join(OUT, f"flow_d8_sf{sf:g}.parquet"),
    )
    print(f"flow_d8 golden: {len(ids)} rows (jpg skipped)")


def make_watershed_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for the ORACLE-checked image_watershed query (r05).

    INDEPENDENT twin: generator pixels; steepest-descent targets via
    the stacked-drops argmax (vs the engine's incremental loop); basin
    labels by MEMOIZED CHAIN WALKING with path compression (vs the
    engine's vectorized pointer jumping).  All int64 — exact parity.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, n_pxs, basins, largest, sumsq, chks = [], [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        tflat = _golden_d8_targets(px)
        n = tflat.size
        lbl = [-1] * n
        tl = tflat.tolist()
        for s in range(n):
            if lbl[s] >= 0:
                continue
            path = []
            c = s
            while lbl[c] < 0 and tl[c] >= 0:
                path.append(c)
                c = tl[c]
            sink = lbl[c] if lbl[c] >= 0 else c
            lbl[c] = sink
            for u in path:
                lbl[u] = sink
        la = np.asarray(lbl, dtype=np.int64)
        sizes = np.bincount(la, minlength=n).astype(np.int64)
        wgt = (np.arange(n, dtype=np.int64) % 97) + 1
        ids.append(image_id)
        n_pxs.append(n)
        basins.append(int((tflat < 0).sum()))
        largest.append(int(sizes.max()))
        sumsq.append(int((sizes * sizes).sum()))
        chks.append(int(((la + 1) * wgt).sum()))
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_px": pa.array(n_pxs, pa.int32()),
            "n_basins": pa.array(basins, pa.int32()),
            "largest_px": pa.array(largest, pa.int32()),
            "sum_sq": pa.array(sumsq, pa.int64()),
            "chk": pa.array(chks, pa.int64()),
        }),
        os.path.join(OUT, f"watershed_sf{sf:g}.parquet"),
    )
    print(f"watershed golden: {len(ids)} rows (jpg skipped)")


def _golden_lum_i64(px: np.ndarray) -> np.ndarray:
    return (299 * px[:, :, 0].astype(np.int64)
            + 587 * px[:, :, 1].astype(np.int64)
            + 114 * px[:, :, 2].astype(np.int64))


def _golden_d8_targets(px: np.ndarray) -> np.ndarray:
    """Stacked-argmax steepest-descent targets (the flow golden's
    formulation, shared by the watershed golden)."""
    offs = ((-1, 0), (-1, 1), (0, 1), (1, 1),
            (1, 0), (1, -1), (0, -1), (-1, -1))
    lum = _golden_lum_i64(px)
    hh, ww = lum.shape
    drops = np.empty((len(offs), hh, ww), dtype=np.int64)
    targets = np.empty((len(offs), hh, ww), dtype=np.int64)
    for k, (dr, dc) in enumerate(offs):
        ri = np.clip(np.arange(hh) + dr, 0, hh - 1)
        ci = np.clip(np.arange(ww) + dc, 0, ww - 1)
        drops[k] = lum - lum[np.ix_(ri, ci)]
        targets[k] = ri[:, None] * ww + ci[None, :]
    kbest = np.argmax(drops, axis=0)  # first max index
    maxdrop = np.take_along_axis(drops, kbest[None], 0)[0]
    tflat = np.take_along_axis(targets, kbest[None], 0)[0].ravel()
    return np.where(maxdrop.ravel() > 0, tflat, -1)


def make_viewshed_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for the ORACLE-checked image_viewshed query (r05).

    Same SPEC as the engine (center viewpoint, exact integer DDA
    samples, strict cross-multiplied slope test) but the visibility
    REDUCTION differs: this twin tracks the running MAX slope per
    target as an exact rational best_num/best_den and compares once at
    the end (the engine accumulates any-step violations instead).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, n_pxs, n_vis, sums, chks = [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        lum = _golden_lum_i64(px)
        hh, ww = lum.shape
        r0, c0 = hh // 2, ww // 2
        ev = int(lum[r0, c0])
        flat = lum.ravel()
        rr, cc = np.indices((hh, ww))
        dr = (rr - r0).ravel().astype(np.int64)
        dc = (cc - c0).ravel().astype(np.int64)
        n = np.maximum(np.abs(dr), np.abs(dc))
        et = flat - ev
        bestn = np.full(flat.size, -(1 << 40), dtype=np.int64)
        bestd = np.ones(flat.size, dtype=np.int64)
        nn = np.where(n == 0, 1, n)
        for k in range(1, int(n.max())):
            m = n > k
            if not m.any():
                break
            rk = np.clip(r0 + (2 * k * dr + nn) // (2 * nn), 0, hh - 1)
            ck = np.clip(c0 + (2 * k * dc + nn) // (2 * nn), 0, ww - 1)
            ep = flat[rk * ww + ck] - ev
            upd = m & (ep * bestd > bestn * k)
            bestn = np.where(upd, ep, bestn)
            bestd = np.where(upd, k, bestd)
        vis = et * bestd >= bestn * n  # grazing sightlines pass
        vis |= n <= 1  # no intermediates -> visible (incl. center)
        wgt = (np.arange(flat.size, dtype=np.int64) % 97) + 1
        ids.append(image_id)
        n_pxs.append(int(flat.size))
        n_vis.append(int(vis.sum()))
        sums.append(int(flat[vis].sum()))
        chks.append(int(wgt[vis].sum()))
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_px": pa.array(n_pxs, pa.int32()),
            "n_visible": pa.array(n_vis, pa.int32()),
            "sum_vis_lum": pa.array(sums, pa.int64()),
            "chk": pa.array(chks, pa.int64()),
        }),
        os.path.join(OUT, f"viewshed_sf{sf:g}.parquet"),
    )
    print(f"viewshed golden: {len(ids)} rows (jpg skipped)")


def make_glcm_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for the ORACLE-checked image_texture_glcm query (r05).

    INDEPENDENT twin: generator pixels; co-occurrence accumulated by
    np.add.at SCATTER into a 16x16 matrix (vs the engine's flat
    bincount over combined codes); features from the matrix with the
    same integer SPEC.  All int64 — exact parity.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, n_prs, cons, eners, homs = [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        lum = _golden_lum_i64(px)
        q = np.minimum(lum // 16000, 15)
        m = np.zeros((16, 16), dtype=np.int64)
        np.add.at(m, (q[:, :-1].ravel(), q[:, 1:].ravel()), 1)
        np.add.at(m, (q[:-1, :].ravel(), q[1:, :].ravel()), 1)
        ii, jj = np.indices((16, 16))
        d2 = ((ii - jj) * (ii - jj)).astype(np.int64)
        ids.append(image_id)
        n_prs.append(int(m.sum()))
        cons.append(int((m * d2).sum()))
        eners.append(int((m * m).sum()))
        homs.append(int(((1000 * m) // (1 + d2)).sum()))
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_pairs": pa.array(n_prs, pa.int32()),
            "contrast": pa.array(cons, pa.int64()),
            "energy": pa.array(eners, pa.int64()),
            "homog_mils": pa.array(homs, pa.int64()),
        }),
        os.path.join(OUT, f"glcm_sf{sf:g}.parquet"),
    )
    print(f"glcm golden: {len(ids)} rows (jpg skipped)")


def make_quadtree_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for the ORACLE-checked image_quadtree query (r05).

    INDEPENDENT twin: generator pixels; leaves found BOTTOM-UP on
    min/max PYRAMIDS (a node is a leaf iff uniform and its parent is
    not — equivalent to the engine's top-down split because range is
    monotone under containment), fully vectorized per level.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    THRESH = 8000
    ids, n_pxs, n_lvs, maxd, sumr, sumdp = [], [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        lum = _golden_lum_i64(px)
        n = lum.shape[0]
        levels = int(np.log2(n))
        mins, maxs = [lum], [lum]
        for _k in range(levels):
            a, b = mins[-1], maxs[-1]
            mins.append(np.minimum(
                np.minimum(a[0::2, 0::2], a[0::2, 1::2]),
                np.minimum(a[1::2, 0::2], a[1::2, 1::2])))
            maxs.append(np.maximum(
                np.maximum(b[0::2, 0::2], b[0::2, 1::2]),
                np.maximum(b[1::2, 0::2], b[1::2, 1::2])))
        nl = md = sr = sdp = 0
        for k in range(levels + 1):  # k = log2(block size)
            rng = maxs[k] - mins[k]
            uni = rng <= THRESH
            if k == 0:
                uni = np.ones_like(uni, dtype=bool)  # 1x1 ranges are 0
            if k < levels:
                pr = (maxs[k + 1] - mins[k + 1]) <= THRESH
                pr_up = np.repeat(np.repeat(pr, 2, 0), 2, 1)
                leaf = uni & ~pr_up
            else:
                leaf = uni  # root
            if leaf.any():
                depth = levels - k
                nl += int(leaf.sum())
                md = max(md, depth)
                sr += int(rng[leaf].sum())
                sdp += int(leaf.sum()) * depth * (1 << k) * (1 << k)
        ids.append(image_id)
        n_pxs.append(int(lum.size))
        n_lvs.append(nl)
        maxd.append(md)
        sumr.append(sr)
        sumdp.append(sdp)
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_px": pa.array(n_pxs, pa.int32()),
            "n_leaves": pa.array(n_lvs, pa.int32()),
            "max_depth": pa.array(maxd, pa.int32()),
            "sum_range": pa.array(sumr, pa.int64()),
            "sum_depth_px": pa.array(sumdp, pa.int64()),
        }),
        os.path.join(OUT, f"quadtree_sf{sf:g}.parquet"),
    )
    print(f"quadtree golden: {len(ids)} rows (jpg skipped)")


def make_pitfill_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for the ORACLE-checked image_pit_fill query (r05).

    The filled surface is the unique minimax fixpoint filled(c) =
    max(elev(c), min over 8-neighbors n of filled(n)) with the border
    pinned to elev — this twin settles cells ONE AT A TIME off a
    border-seeded priority-flood MIN-HEAP (Barnes et al. 2014; the
    engine iterates the Bellman recurrence with shifted clamp views
    instead — the two algorithms swapped roles in r05 when the
    vectorized form proved 14x faster and moved engine-side).
    All int64.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    import heapq

    offs = ((-1, 0), (-1, 1), (0, 1), (1, 1),
            (1, 0), (1, -1), (0, -1), (-1, -1))
    ids, n_pxs, raised, deltas, chks = [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        lum = _golden_lum_i64(px)
        hh, ww = lum.shape
        filled = lum.copy()
        visited = np.zeros((hh, ww), dtype=bool)
        heap = []
        for r in range(hh):
            for c in range(ww):
                if r in (0, hh - 1) or c in (0, ww - 1):
                    visited[r, c] = True
                    heapq.heappush(heap, (int(lum[r, c]), r * ww + c))
        while heap:
            val, j = heapq.heappop(heap)
            r, c = divmod(j, ww)
            for dr, dc in offs:
                nr, nc = r + dr, c + dc
                if 0 <= nr < hh and 0 <= nc < ww and not visited[nr, nc]:
                    visited[nr, nc] = True
                    nv = max(int(lum[nr, nc]), val)
                    filled[nr, nc] = nv
                    heapq.heappush(heap, (nv, nr * ww + nc))
        delta = (filled - lum).ravel()
        wgt = (np.arange(delta.size, dtype=np.int64) % 97) + 1
        ids.append(image_id)
        n_pxs.append(int(delta.size))
        raised.append(int((delta > 0).sum()))
        deltas.append(int(delta.sum()))
        chks.append(int((filled.ravel() * wgt).sum()))
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_px": pa.array(n_pxs, pa.int32()),
            "n_raised": pa.array(raised, pa.int32()),
            "sum_delta": pa.array(deltas, pa.int64()),
            "chk": pa.array(chks, pa.int64()),
        }),
        os.path.join(OUT, f"pitfill_sf{sf:g}.parquet"),
    )
    print(f"pitfill golden: {len(ids)} rows (jpg skipped)")


def make_hillshade_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for the ORACLE-checked image_hillshade query (r05).

    INDEPENDENT of the engine decode path: pixels come straight from
    the fixture generator via _fixture_image_iter (qnt via the
    reimplemented quantize twin; jpg rows SKIPPED — lossy decode has no
    independent twin in this container, same policy as the decode-stats
    golden's NULLs).  The Horn kernel here re-derives the 8 shifted
    views with explicit index slices on the UNPADDED raster (vs the
    engine's np.pad) — same SPEC expression order (ops/payload.py), so
    float64 bits match through the trig.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdg_engine.ops.payload import (
        HILLSHADE_ALT_DEG,
        HILLSHADE_AZ_DEG,
        HILLSHADE_Z,
    )

    az = np.deg2rad(HILLSHADE_AZ_DEG)
    zen = np.deg2rad(90.0 - HILLSHADE_ALT_DEG)

    def edge_view(z, dr, dc):
        # edge-replicated neighbor view WITHOUT np.pad: clamp indices
        h, w = z.shape
        ri = np.clip(np.arange(h) + dr, 0, h - 1)
        ci = np.clip(np.arange(w) + dc, 0, w - 1)
        return z[np.ix_(ri, ci)]

    ids, n_pxs, sums, mins, maxs = [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        lum = _lum_raster(px)
        tl, t, tr = (edge_view(lum, -1, -1), edge_view(lum, -1, 0),
                     edge_view(lum, -1, 1))
        l, r = edge_view(lum, 0, -1), edge_view(lum, 0, 1)
        bl, b, br = (edge_view(lum, 1, -1), edge_view(lum, 1, 0),
                     edge_view(lum, 1, 1))
        dzdx = ((tr + 2.0 * r + br) - (tl + 2.0 * l + bl)) / 8.0
        dzdy = ((bl + 2.0 * b + br) - (tl + 2.0 * t + tr)) / 8.0
        slope = np.arctan(HILLSHADE_Z * np.sqrt(dzdx * dzdx + dzdy * dzdy))
        aspect = np.arctan2(dzdy, -dzdx)
        shade = (np.cos(zen) * np.cos(slope)
                 + np.sin(zen) * np.sin(slope) * np.cos(az - aspect))
        s8 = np.clip(np.floor(255.0 * shade + 0.5), 0, 255).astype(np.int64)
        ids.append(image_id)
        n_pxs.append(int(s8.size))
        sums.append(int(s8.sum()))
        mins.append(int(s8.min()))
        maxs.append(int(s8.max()))
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_px": pa.array(n_pxs, pa.int32()),
            "sum_shade": pa.array(sums, pa.int64()),
            "min_shade": pa.array(mins, pa.int32()),
            "max_shade": pa.array(maxs, pa.int32()),
        }),
        os.path.join(OUT, f"hillshade_sf{sf:g}.parquet"),
    )
    print(f"hillshade golden: {len(ids)} rows (jpg skipped)")


def make_slope_aspect_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for the ORACLE-checked image_slope_aspect query (r05).

    Same SPEC as ops/payload.slope_aspect_kernel (Horn clamp-border
    gradients, first-match octant rule), INDEPENDENT path: generator
    pixels (vs engine decode), np.ix_ clamp gathers (vs pad slices),
    and a SCALAR per-pixel if/elif octant chain (vs np.select)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def cv(z, dr, dc):
        h, w = z.shape
        ri = np.clip(np.arange(h) + dr, 0, h - 1)
        ci = np.clip(np.arange(w) + dc, 0, w - 1)
        return z[np.ix_(ri, ci)]

    STEEP = 10_000_000_000
    ids, n_pxs, flats, hists, steeps, sums = [], [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        lum = _golden_lum_i64(px)
        tl, t, tr = cv(lum, -1, -1), cv(lum, -1, 0), cv(lum, -1, 1)
        le, ri_ = cv(lum, 0, -1), cv(lum, 0, 1)
        bl, b, br = cv(lum, 1, -1), cv(lum, 1, 0), cv(lum, 1, 1)
        gx = ((tr + 2 * ri_ + br) - (tl + 2 * le + bl)).ravel()
        gy = ((bl + 2 * b + br) - (tl + 2 * t + tr)).ravel()
        cnt = [0] * 8
        n_flat = 0
        s2sum = 0
        n_steep = 0
        for x, y in zip(gx.tolist(), gy.tolist()):
            s2 = x * x + y * y
            s2sum += s2
            if s2 > STEEP:
                n_steep += 1
            ax, ay = abs(x), abs(y)
            if x == 0 and y == 0:
                n_flat += 1
            elif ax > ay:
                cnt[0 if x > 0 else 4] += 1
            elif ay > ax:
                cnt[2 if y > 0 else 6] += 1
            elif x > 0 and y > 0:
                cnt[1] += 1
            elif x < 0 and y > 0:
                cnt[3] += 1
            elif x < 0 and y < 0:
                cnt[5] += 1
            else:
                cnt[7] += 1
        ids.append(image_id)
        n_pxs.append(int(lum.size))
        flats.append(n_flat)
        hists.append(sum((k + 1) * c for k, c in enumerate(cnt)))
        steeps.append(n_steep)
        sums.append(s2sum)
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_px": pa.array(n_pxs, pa.int32()),
            "n_flat": pa.array(flats, pa.int64()),
            "hist_chk": pa.array(hists, pa.int64()),
            "n_steep": pa.array(steeps, pa.int64()),
            "sum_s2": pa.array(sums, pa.int64()),
        }),
        os.path.join(OUT, f"slope_aspect_sf{sf:g}.parquet"),
    )
    print(f"slope_aspect golden: {len(ids)} rows (jpg skipped)")


def make_strahler_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for the ORACLE-checked image_strahler query (r05).

    Strahler order over the shared D8-target SPEC; INDEPENDENT path:
    stacked-argmax targets (_golden_d8_targets) + a memoized iterative
    POSTORDER DFS over the reverse adjacency computing order =
    max-child-order (+1 if >=2 children attain it), vs the engine's
    elevation-ordered single sweep."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, n_pxs, maxo, sumo, ge2s, chks = [], [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        tflat = _golden_d8_targets(px)
        n = tflat.size
        children: list[list[int]] = [[] for _ in range(n)]
        for c, t in enumerate(tflat.tolist()):
            if t >= 0:
                children[t].append(c)
        order = [0] * n
        done = [False] * n
        for s in range(n):
            if done[s]:
                continue
            stack = [(s, False)]
            while stack:
                c, expanded = stack.pop()
                if done[c]:
                    continue
                if expanded or not children[c]:
                    if children[c]:
                        m = max(order[u] for u in children[c])
                        at_m = sum(1 for u in children[c] if order[u] == m)
                        order[c] = m + 1 if at_m >= 2 else m
                    else:
                        order[c] = 1
                    done[c] = True
                else:
                    stack.append((c, True))
                    stack.extend((u, False) for u in children[c])
        o = np.asarray(order, dtype=np.int64)
        wgt = (np.arange(n, dtype=np.int64) % 97) + 1
        ids.append(image_id)
        n_pxs.append(int(n))
        maxo.append(int(o.max()))
        sumo.append(int(o.sum()))
        ge2s.append(int((o >= 2).sum()))
        chks.append(int((wgt * o).sum()))
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_px": pa.array(n_pxs, pa.int32()),
            "max_order": pa.array(maxo, pa.int64()),
            "sum_order": pa.array(sumo, pa.int64()),
            "n_ge2": pa.array(ge2s, pa.int64()),
            "chk": pa.array(chks, pa.int64()),
        }),
        os.path.join(OUT, f"strahler_sf{sf:g}.parquet"),
    )
    print(f"strahler golden: {len(ids)} rows (jpg skipped)")


def make_hist_equalize_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for the ORACLE-checked image_hist_equalize query (r05).

    Same equalization SPEC as ops/payload.hist_equalize_kernel;
    INDEPENDENT path: a scalar counting-dict CDF + per-pixel dict
    remap, vs the engine's bincount/cumsum/LUT vectorization."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, n_pxs, sums, lvls, maxs, chks = [], [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        v = (_golden_lum_i64(px) // 1000).ravel().tolist()
        counts: dict[int, int] = {}
        for x in v:
            counts[x] = counts.get(x, 0) + 1
        npx = len(v)
        cum = 0
        cdf: dict[int, int] = {}
        cdfmin = None
        for lvl in sorted(counts):
            cum += counts[lvl]
            cdf[lvl] = cum
            if cdfmin is None:
                cdfmin = cum
        denom = max(npx - cdfmin, 1)
        remap = {lvl: (c - cdfmin) * 255 // denom for lvl, c in cdf.items()}
        eq = [remap[x] for x in v]
        ids.append(image_id)
        n_pxs.append(npx)
        sums.append(sum(eq))
        lvls.append(len(set(eq)))
        maxs.append(max(eq))
        chks.append(sum((j % 97 + 1) * e for j, e in enumerate(eq)))
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_px": pa.array(n_pxs, pa.int32()),
            "sum_eq": pa.array(sums, pa.int64()),
            "n_levels_out": pa.array(lvls, pa.int64()),
            "max_eq": pa.array(maxs, pa.int64()),
            "chk": pa.array(chks, pa.int64()),
        }),
        os.path.join(OUT, f"hist_equalize_sf{sf:g}.parquet"),
    )
    print(f"hist_equalize golden: {len(ids)} rows (jpg skipped)")


def make_morphology_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for the ORACLE-checked image_morphology query (r05).

    Same 3x3 clamp-border min/max SPEC as ops/payload
    .morphology_kernel; INDEPENDENT path: np.ix_ clamp gathers per
    offset (vs the engine's edge-replicated pad slices)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def cv(z, dr, dc):
        h, w = z.shape
        ri = np.clip(np.arange(h) + dr, 0, h - 1)
        ci = np.clip(np.arange(w) + dc, 0, w - 1)
        return z[np.ix_(ri, ci)]

    EDGE = 20_000
    ids, n_pxs, ers, dis, edges, chks = [], [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        lum = _golden_lum_i64(px)
        er = lum.copy()
        di = lum.copy()
        for dr in (-1, 0, 1):
            for dc in (-1, 0, 1):
                if dr == 0 and dc == 0:
                    continue
                nb = cv(lum, dr, dc)
                er = np.minimum(er, nb)
                di = np.maximum(di, nb)
        grad = (di - er).ravel()
        wgt = (np.arange(grad.size, dtype=np.int64) % 97) + 1
        ids.append(image_id)
        n_pxs.append(int(grad.size))
        ers.append(int(er.sum()))
        dis.append(int(di.sum()))
        edges.append(int((grad > EDGE).sum()))
        chks.append(int((wgt * grad).sum()))
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_px": pa.array(n_pxs, pa.int32()),
            "sum_erode": pa.array(ers, pa.int64()),
            "sum_dilate": pa.array(dis, pa.int64()),
            "n_edge": pa.array(edges, pa.int64()),
            "chk": pa.array(chks, pa.int64()),
        }),
        os.path.join(OUT, f"morphology_sf{sf:g}.parquet"),
    )
    print(f"morphology golden: {len(ids)} rows (jpg skipped)")


def make_tpi_tri_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for the ORACLE-checked image_tpi_tri query (r05 wave 6).

    Same SPEC as ops/payload.tpi_tri_kernel (8-neighborhood clamp
    borders, TPI = 8c - sum, TRI = sum |c - n|, |TPI| > 8000 ridge/
    valley), INDEPENDENT path: generator pixels (vs engine decode) and
    np.ix_ clamp gathers (vs pad slices)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    offs = ((-1, -1), (-1, 0), (-1, 1), (0, -1),
            (0, 1), (1, -1), (1, 0), (1, 1))
    ids, n_pxs, tris, maxs, ridges, valleys, chks = [], [], [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        lum = _golden_lum_i64(px)
        hh, ww = lum.shape
        s = np.zeros_like(lum)
        tri = np.zeros_like(lum)
        for dr, dc in offs:
            ri = np.clip(np.arange(hh) + dr, 0, hh - 1)
            ci = np.clip(np.arange(ww) + dc, 0, ww - 1)
            nb = lum[np.ix_(ri, ci)]
            s += nb
            tri += np.abs(lum - nb)
        tpi = 8 * lum - s
        wgt = (np.arange(lum.size, dtype=np.int64) % 97) + 1
        ids.append(image_id)
        n_pxs.append(int(lum.size))
        tris.append(int(tri.sum()))
        maxs.append(int(tri.max()))
        ridges.append(int((tpi > 8000).sum()))
        valleys.append(int((tpi < -8000).sum()))
        chks.append(int((wgt * tri.ravel()).sum()))
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_px": pa.array(n_pxs, pa.int32()),
            "sum_tri": pa.array(tris, pa.int64()),
            "max_tri": pa.array(maxs, pa.int64()),
            "n_ridge": pa.array(ridges, pa.int64()),
            "n_valley": pa.array(valleys, pa.int64()),
            "chk": pa.array(chks, pa.int64()),
        }),
        os.path.join(OUT, f"tpi_tri_sf{sf:g}.parquet"),
    )
    print(f"tpi_tri golden: {len(ids)} rows (jpg skipped)")


def make_flow_length_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for the ORACLE-checked image_flow_length query (r05
    wave 6).

    Same SPEC as ops/payload.d8_flow_length (D8 targets, 10/14 weights
    by EFFECTIVE displacement), INDEPENDENT path: stacked-argmax
    targets (_golden_d8_targets) + memoized SCALAR chain walking (vs
    the engine's vectorized pointer jumping)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, n_pxs, sinks, sums, maxs, chks = [], [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        tflat = _golden_d8_targets(px)
        ww = px.shape[1]
        n = tflat.size
        tl = tflat.tolist()

        def step_w(c: int, t: int) -> int:
            dr = abs(t // ww - c // ww)
            dc = abs(t % ww - c % ww)
            return 14 if (dr and dc) else 10

        memo: dict[int, int] = {}

        def walk(c: int) -> int:
            chain = []
            while c not in memo and tl[c] >= 0:
                chain.append(c)
                c = tl[c]
            base = memo.get(c, 0)
            for u in reversed(chain):
                base = memo[u] = base + step_w(u, tl[u])
            return memo.get(chain[0] if chain else c, base)

        lens = np.asarray([walk(c) for c in range(n)], dtype=np.int64)
        wgt = (np.arange(n, dtype=np.int64) % 97) + 1
        ids.append(image_id)
        n_pxs.append(n)
        sinks.append(int((tflat < 0).sum()))
        sums.append(int(lens.sum()))
        maxs.append(int(lens.max()))
        chks.append(int((wgt * lens).sum()))
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_px": pa.array(n_pxs, pa.int32()),
            "n_sinks": pa.array(sinks, pa.int32()),
            "sum_len": pa.array(sums, pa.int64()),
            "max_len": pa.array(maxs, pa.int64()),
            "chk": pa.array(chks, pa.int64()),
        }),
        os.path.join(OUT, f"flow_length_sf{sf:g}.parquet"),
    )
    print(f"flow_length golden: {len(ids)} rows (jpg skipped)")


def make_box_downscale_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for the ORACLE-checked image_box_downscale query (r05
    wave 6).

    Same SPEC as ops/payload.box_downscale_kernel ((a+b+c+d) DIV 4
    over 2x2 blocks, odd trailing row/col dropped), INDEPENDENT path:
    generator pixels + RESHAPE into (h2, 2, w2, 2) blocks (vs the
    engine's strided slices)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, n_outs, sums, maxs, mins, chks = [], [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        lum = _golden_lum_i64(px)
        hh, ww = lum.shape
        h2, w2 = hh // 2, ww // 2
        blocks = lum[: h2 * 2, : w2 * 2].reshape(h2, 2, w2, 2)
        ds = blocks.sum(axis=(1, 3)) // 4
        wgt = (np.arange(ds.size, dtype=np.int64) % 97) + 1
        ids.append(image_id)
        n_outs.append(int(ds.size))
        sums.append(int(ds.sum()))
        maxs.append(int(ds.max()))
        mins.append(int(ds.min()))
        chks.append(int((wgt * ds.ravel()).sum()))
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_out": pa.array(n_outs, pa.int32()),
            "sum_ds": pa.array(sums, pa.int64()),
            "max_ds": pa.array(maxs, pa.int64()),
            "min_ds": pa.array(mins, pa.int64()),
            "chk": pa.array(chks, pa.int64()),
        }),
        os.path.join(OUT, f"box_downscale_sf{sf:g}.parquet"),
    )
    print(f"box_downscale golden: {len(ids)} rows (jpg skipped)")


def make_median3_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for the ORACLE-checked image_median3 query (r05 wave 7).

    Same SPEC as ops/payload.median3_kernel (median of the 3x3 clamp
    neighborhood = 5th smallest of 9), INDEPENDENT path: generator
    pixels + np.sort over np.ix_ clamp gathers (vs the engine's
    pad-slice np.partition)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, n_pxs, sums, changed, maxd, chks = [], [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        lum = _golden_lum_i64(px)
        hh, ww = lum.shape
        gath = []
        for dr in (-1, 0, 1):
            for dc in (-1, 0, 1):
                ri = np.clip(np.arange(hh) + dr, 0, hh - 1)
                ci = np.clip(np.arange(ww) + dc, 0, ww - 1)
                gath.append(lum[np.ix_(ri, ci)])
        med = np.sort(np.stack(gath), axis=0)[4]
        diff = np.abs(med - lum)
        wgt = (np.arange(lum.size, dtype=np.int64) % 97) + 1
        ids.append(image_id)
        n_pxs.append(int(lum.size))
        sums.append(int(med.sum()))
        changed.append(int((med != lum).sum()))
        maxd.append(int(diff.max()))
        chks.append(int((wgt * med.ravel()).sum()))
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_px": pa.array(n_pxs, pa.int32()),
            "sum_med": pa.array(sums, pa.int64()),
            "n_changed": pa.array(changed, pa.int64()),
            "max_absdiff": pa.array(maxd, pa.int64()),
            "chk": pa.array(chks, pa.int64()),
        }),
        os.path.join(OUT, f"median3_sf{sf:g}.parquet"),
    )
    print(f"median3 golden: {len(ids)} rows (jpg skipped)")


def make_otsu_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for the ORACLE-checked image_otsu query (r05 wave 10).

    Same SPEC as ops/payload.otsu_kernel (256-bin histogram over
    lum DIV 1000, maximize exact between-class variance, smallest-t
    tie, foreground = bins > t), INDEPENDENT path: Counter histogram +
    incremental running sums + fractions.Fraction comparison (vs the
    engine's np.bincount cumsums + cross-multiplied int compare)."""
    from collections import Counter
    from fractions import Fraction

    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, thrs, n_fgs, sum_fgs, chks = [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        lum = _golden_lum_i64(px)
        flat = lum.ravel().tolist()
        bins = [v // 1000 for v in flat]
        hist = Counter(bins)
        n_tot = len(bins)
        s_tot = sum(b * c for b, c in hist.items())
        w0 = s0 = 0
        best_t = -1
        best = Fraction(0)
        for t in range(256):
            c = hist.get(t, 0)
            w0 += c
            s0 += t * c
            if w0 == 0 or w0 == n_tot:
                continue
            f = Fraction((s0 * n_tot - s_tot * w0) ** 2, w0 * (n_tot - w0))
            if best_t < 0 or f > best:
                best_t, best = t, f
        n_fg = sum_fg = chk = 0
        for k, (v, b) in enumerate(zip(flat, bins)):
            if b > best_t:
                n_fg += 1
                sum_fg += v
                chk += (k % 97) + 1
        ids.append(image_id)
        thrs.append(best_t)
        n_fgs.append(n_fg)
        sum_fgs.append(sum_fg)
        chks.append(chk)
    pq.write_table(
        pa.table({
            "image_id": ids,
            "thr": pa.array(thrs, pa.int32()),
            "n_fg": pa.array(n_fgs, pa.int64()),
            "sum_fg": pa.array(sum_fgs, pa.int64()),
            "chk": pa.array(chks, pa.int64()),
        }),
        os.path.join(OUT, f"otsu_sf{sf:g}.parquet"),
    )
    print(f"otsu golden: {len(ids)} rows (jpg skipped)")


def make_mst_golden(sf: float = 0.01) -> None:
    """Golden for the ORACLE-checked mst_roads query (r05 wave 10).

    INDEPENDENT algorithm family: scalar KRUSKAL with path-halving
    union-find over the same quantized road-graph edges (vs the
    engine's distributed Boruvka rounds).  Edge weight keys (w, u, v)
    are strictly distinct, so the minimum spanning FOREST is unique
    and the two algorithms must produce identical totals."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    roads = FX.roads_records(sf)
    edges = set()
    nodes = set()
    for r in roads:
        nds = [
            (int(math.floor(p["x"] * 10 + 0.5)) + 100) * 1000
            + (int(math.floor(p["y"] * 10 + 0.5)) + 100)
            for p in r["coords"]
        ]
        for a, b in zip(nds, nds[1:]):
            if a == b:
                continue
            u, v = (a, b) if a < b else (b, a)
            edges.add((u, v))
            nodes.add(u)
            nodes.add(v)

    def wgt(u: int, v: int) -> int:
        dx = u // 1000 - v // 1000
        dy = u % 1000 - v % 1000
        return int(math.floor(math.sqrt(float(dx * dx + dy * dy)) * 1000))

    parent = {n: n for n in nodes}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    total = chk = cnt = 0
    for w_, u, v in sorted((wgt(u, v), u, v) for (u, v) in edges):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            cnt += 1
            total += w_
            chk += u * 1000003 + v
    n_comp = len({find(n) for n in nodes})
    pq.write_table(
        pa.table({
            "n_components": pa.array([n_comp], pa.int64()),
            "n_mst_edges": pa.array([cnt], pa.int64()),
            "total_w": pa.array([total], pa.int64()),
            "chk": pa.array([chk], pa.int64()),
        }),
        os.path.join(OUT, f"mst_sf{sf:g}.parquet"),
    )
    print(f"mst golden: {len(nodes)} nodes, {cnt} edges, "
          f"{n_comp} components")


def make_pitch_golden() -> None:
    """Golden for multimodal_audio_pitch (r05 wave 11): waveform
    regenerated from the fixture SPEC, INDEPENDENT PCM16 twin quantize
    (clip/round — never codecs.encode_wav), channel-sum mono ints, and
    a SCALAR python-int autocorrelation loop (vs the engine's int64
    np.dot) — smallest-lag strict-max tie rule shared by SPEC."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(1234)
    ids, lags, f0s, rps, nls = [], [], [], [], []
    for i in range(64):
        sr = [16000, 22050, 44100][i % 3]
        n_ch = 1 + (i % 2)
        dur_ms = 40 + (i % 7) * 10
        t = np.arange(int(sr * dur_ms / 1000)) / sr
        freq = 220.0 * (1 + (i % 8))
        wave = 0.5 * np.sin(2 * np.pi * freq * t)
        wave = wave[:, None] + 0.05 * rng.standard_normal((len(t), n_ch))
        pcm = np.clip(np.round(wave * 32767.0), -32768, 32767).astype(np.int16)
        x = [sum(int(v) for v in row) for row in pcm]
        lo, hi = max(1, sr // 2000), sr // 100
        best_lag, best_r, n_lags = -1, 0, 0
        for k in range(lo, min(hi, len(x) - 1) + 1):
            n_lags += 1
            rk = 0
            for a, b in zip(x[:-k], x[k:]):
                rk += a * b
            if best_lag < 0 or rk > best_r:
                best_lag, best_r = k, rk
        ids.append(f"aud{i:08d}")
        lags.append(best_lag)
        f0s.append(float(sr) / float(best_lag))
        rps.append(best_r)
        nls.append(n_lags)
    pq.write_table(
        pa.table({
            "media_id": ids,
            "lag": pa.array(lags, pa.int32()),
            "f0_hz": pa.array(f0s, pa.float64()),
            "r_peak": pa.array(rps, pa.int64()),
            "n_lags": pa.array(nls, pa.int32()),
        }),
        os.path.join(OUT, "audio_pitch.parquet"),
    )
    print(f"audio_pitch golden: {len(ids)} rows")


def make_motion_golden(block: int = 8, search: int = 4) -> None:
    """Golden for multimodal_video_motion (r05 wave 11): frames
    regenerated from the fixture SPEC (one shared rng stream across
    clips, like the generator), then SCALAR per-block python-int block
    matching (vs the engine's vectorized numpy) under the shared SPEC:
    row-major shift order, strictly-smaller SAD replaces."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(4321)
    ids, nps, nbs, nms, ssads, smvs, chks = [], [], [], [], [], [], []
    for i in range(32):
        w, h = 48, 32
        n_frames = 24 + (i % 4) * 12
        t = np.arange(n_frames)[:, None, None]
        yy = np.arange(h)[None, :, None]
        xx = np.arange(w)[None, None, :]
        frames = ((xx * 3 + yy * 2 + t * 7 + i * 11) % 256).astype(np.uint8)
        frames = np.clip(
            frames.astype(np.int16)
            + rng.integers(-8, 9, size=frames.shape, dtype=np.int16),
            0, 255,
        ).astype(np.uint8)
        pos = [(by, bx)
               for by in range(search, h - block - search + 1, block)
               for bx in range(search, w - block - search + 1, block)]
        n_pairs = n_frames - 1
        n_blocks = n_moving = sum_sad = sum_abs_mv = chk = 0
        flat = 0
        for tt in range(1, n_frames):
            prev = frames[tt - 1].astype(np.int64)
            cur = frames[tt].astype(np.int64)
            for by, bx in pos:
                best = None
                for dy in range(-search, search + 1):
                    for dx in range(-search, search + 1):
                        sad = 0
                        for rr in range(block):
                            for cc in range(block):
                                sad += abs(int(cur[by + rr, bx + cc])
                                           - int(prev[by + dy + rr,
                                                      bx + dx + cc]))
                        if best is None or sad < best[0]:
                            best = (sad, dy, dx)
                n_blocks += 1
                sad, dy, dx = best
                if dy != 0 or dx != 0:
                    n_moving += 1
                sum_sad += sad
                sum_abs_mv += abs(dy) + abs(dx)
                wgt = (flat % 97) + 1
                chk += wgt * ((dy + search) * (2 * search + 1) + dx + search)
                flat += 1
        ids.append(f"vid{i:08d}")
        nps.append(n_pairs)
        nbs.append(n_blocks)
        nms.append(n_moving)
        ssads.append(sum_sad)
        smvs.append(sum_abs_mv)
        chks.append(chk)
    pq.write_table(
        pa.table({
            "media_id": ids,
            "n_pairs": pa.array(nps, pa.int32()),
            "n_blocks": pa.array(nbs, pa.int64()),
            "n_moving": pa.array(nms, pa.int64()),
            "sum_sad": pa.array(ssads, pa.int64()),
            "sum_abs_mv": pa.array(smvs, pa.int64()),
            "chk": pa.array(chks, pa.int64()),
        }),
        os.path.join(OUT, "video_motion.parquet"),
    )
    print(f"video_motion golden: {len(ids)} rows")


def make_edt_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for the ORACLE-checked image_edt query (r05 wave 12).

    Same SPEC as ops/payload.edt_kernel (squared EDT to luma >=
    128000, -1 sentinel when no seed), INDEPENDENT algorithm: the
    Felzenszwalb-Huttenlocher lower-envelope 1D transform applied
    rows-then-columns with EXACT Fraction hull intersections (vs the
    engine's nearest-seed scans + vectorized offset broadcast)."""
    from fractions import Fraction

    import pyarrow as pa
    import pyarrow.parquet as pq

    def dt1d(f: list) -> list:
        n = len(f)
        v = [0] * n
        z = [None] * (n + 1)
        k = 0
        z[0] = None  # -inf
        z[1] = None  # +inf (trailing)
        for q in range(1, n):
            while True:
                p = v[k]
                s = Fraction(f[q] + q * q - f[p] - p * p, 2 * (q - p))
                if k > 0 and z[k] is not None and s <= z[k]:
                    k -= 1
                    continue
                break
            k += 1
            v[k] = q
            z[k] = s
            z[k + 1] = None
        d = [0] * n
        k = 0
        for x in range(n):
            while z[k + 1] is not None and z[k + 1] < x:
                k += 1
            d[x] = (x - v[k]) ** 2 + f[v[k]]
        return d

    ids, n_pxs, n_fgs, sums, maxs, chks = [], [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        lum = _golden_lum_i64(px)
        hh, ww = lum.shape
        mask = lum >= 128_000
        ids.append(image_id)
        n_pxs.append(int(lum.size))
        n_fgs.append(int(mask.sum()))
        if not mask.any():
            sums.append(-1)
            maxs.append(-1)
            chks.append(-1)
            continue
        inf = 4 * (hh + ww) * (hh + ww) * 100  # beyond any true d2
        f0 = np.where(mask, 0, inf).astype(object)
        cols = [dt1d([int(f0[y, x]) for y in range(hh)]) for x in range(ww)]
        dt = [dt1d([cols[x][y] for x in range(ww)]) for y in range(hh)]
        flat = [dt[y][x] for y in range(hh) for x in range(ww)]
        sums.append(sum(flat))
        maxs.append(max(flat))
        chks.append(sum(((k % 97) + 1) * v for k, v in enumerate(flat)))
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_px": pa.array(n_pxs, pa.int32()),
            "n_fg": pa.array(n_fgs, pa.int64()),
            "sum_d2": pa.array(sums, pa.int64()),
            "max_d2": pa.array(maxs, pa.int64()),
            "chk": pa.array(chks, pa.int64()),
        }),
        os.path.join(OUT, f"edt_sf{sf:g}.parquet"),
    )
    print(f"edt golden: {len(ids)} rows (jpg skipped)")


def make_fft_sharpness_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for image_fft_sharpness (r05 wave 13): generator pixels
    (independent of the codecs) through the SAME in-process rfft2 —
    the decode path is what the oracle exercises (decode_stats
    precedent); mask/ratio/argmax expressions mirror the kernel SPEC
    op-for-op so the float64 bits match."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, n_pxs, ratios, pus, pvs = [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        lum = _golden_lum_i64(px)
        hh, ww = lum.shape
        spec = np.fft.rfft2(lum.astype(np.float64))
        p = (spec * np.conj(spec)).real
        fu = np.minimum(np.arange(hh), hh - np.arange(hh))[:, None]
        fv = np.arange(p.shape[1])[None, :]
        r2 = fu * fu + fv * fv
        thr = (min(hh, ww) // 4) ** 2
        total = float(p.sum() - p[0, 0])
        hf = float(p[r2 > thr].sum())
        ratio = int(np.floor(hf / total * 1_000_000.0)) if total > 0 else -1
        pm = p.copy()
        pm[0, 0] = -1.0
        k = int(np.argmax(pm))
        ids.append(image_id)
        n_pxs.append(int(lum.size))
        ratios.append(ratio)
        pus.append(k // p.shape[1])
        pvs.append(k % p.shape[1])
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_px": pa.array(n_pxs, pa.int32()),
            "hf_ratio_micros": pa.array(ratios, pa.int64()),
            "peak_u": pa.array(pus, pa.int32()),
            "peak_v": pa.array(pvs, pa.int32()),
        }),
        os.path.join(OUT, f"fft_sharpness_sf{sf:g}.parquet"),
    )
    print(f"fft_sharpness golden: {len(ids)} rows (jpg skipped)")


def make_clip_golden() -> None:
    """Golden for country_clip_area (r05 wave 14): pure-SCALAR
    Sutherland-Hodgman over the generator's country rings vs the
    engine's vectorized kernel — identical per-element float op order
    (the hillshade rule), different mechanics.  Sequential shoelace
    fold per the SPEC."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdg_engine.queries.spatial import AOI_RING

    clip = [(float(x), float(y)) for x, y in AOI_RING[:-1]]

    def sh(subject):
        out = [tuple(p) for p in subject]
        n = len(clip)
        for i in range(n):
            ax, ay = clip[i]
            bx, by = clip[(i + 1) % n]
            inp = out
            out = []
            if not inp:
                break
            for j in range(len(inp)):
                sx, sy = inp[j - 1]
                ex, ey = inp[j]
                s_in = (bx - ax) * (sy - ay) - (by - ay) * (sx - ax) >= 0.0
                e_in = (bx - ax) * (ey - ay) - (by - ay) * (ex - ax) >= 0.0
                if e_in != s_in:
                    denom = (ex - sx) * (by - ay) - (ey - sy) * (bx - ax)
                    tnum = (ax - sx) * (by - ay) - (ay - sy) * (bx - ax)
                    t = tnum / denom
                    out.append((sx + t * (ex - sx), sy + t * (ey - sy)))
                if e_in:
                    out.append((ex, ey))
        return out

    def area_seq(ring):
        s = 0.0
        n = len(ring)
        for i in range(n):
            x0, y0 = ring[i]
            x1, y1 = ring[(i + 1) % n]
            s = s + (x0 * y1 - x1 * y0)
        return 0.5 * s

    ccs, nis, nos, ias, cas, fms = [], [], [], [], [], []
    for rec in FX.countries_records():
        ring = [(float(p["x"]), float(p["y"])) for p in rec["ring"]]
        if ring[0] == ring[-1]:
            ring = ring[:-1]
        inter = sh(ring)
        a_c = abs(area_seq(ring))
        a_i = abs(area_seq(inter)) if len(inter) >= 3 else 0.0
        ccs.append(rec["country_code"])
        nis.append(len(ring))
        nos.append(len(inter))
        ias.append(int(np.floor(a_i * 1e9)))
        cas.append(int(np.floor(a_c * 1e9)))
        fms.append(int(np.floor(a_i / a_c * 1_000_000.0)))
    pq.write_table(
        pa.table({
            "country_code": ccs,
            "n_in": pa.array(nis, pa.int32()),
            "n_out": pa.array(nos, pa.int32()),
            "inter_area_nano": pa.array(ias, pa.int64()),
            "country_area_nano": pa.array(cas, pa.int64()),
            "frac_micros": pa.array(fms, pa.int64()),
        }),
        os.path.join(OUT, "clip_area.parquet"),
    )
    print(f"clip_area golden: {len(ccs)} rows; fracs {fms}")


def make_bpe_golden(sf_dir: str = "/root/testdata/sf0.01",
                    rounds: int = 8) -> None:
    """Golden for bpe_train_merges (r05 wave 16): INDEPENDENT scalar
    BPE trainer (dict-of-Counter mechanics vs the engine's DataFrame
    rounds) over the same documents parquet.  SPEC shared: split on
    single space, drop empties, count adjacent pairs WITH overlaps,
    argmax by (count, then lexicographic (left, right)), greedy
    LEFTMOST merge application."""
    from collections import Counter

    import pyarrow.parquet as pq_read
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = pq_read.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["text"]
    )["text"].to_pylist()
    words = Counter()
    for t in texts:
        for w in t.split(" "):
            if w:
                words[w] += 1
    vocab = {w: [list(w), c] for w, c in words.items()}
    ranks, lefts, rights, cnts = [], [], [], []
    for rank in range(1, rounds + 1):
        pc = Counter()
        for toks, c in vocab.values():
            for x, y in zip(toks, toks[1:]):
                pc[(x, y)] += c
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        ranks.append(rank)
        lefts.append(a)
        rights.append(b)
        cnts.append(cnt)
        for entry in vocab.values():
            t = entry[0]
            res = []
            i = 0
            while i < len(t):
                if i + 1 < len(t) and t[i] == a and t[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(t[i])
                    i += 1
            entry[0] = res
    pq.write_table(
        pa.table({
            "rank": pa.array(ranks, pa.int32()),
            "lhs": lefts,
            "rhs": rights,
            "cnt": pa.array(cnts, pa.int64()),
        }),
        os.path.join(OUT, "bpe_merges_sf0.01.parquet"),
    )
    print(f"bpe golden: {list(zip(lefts, rights, cnts))}")


def make_ssim_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for image_ssim_recon (r05 wave 18): generator pixels,
    INDEPENDENT mechanics — reshape-block downscale (vs strided
    slices), np.kron upsample (vs np.repeat), python-int moment sums
    (vs numpy) — same SPEC'd double expression order at the end."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    C1, C2 = 6_502_500.0, 58_522_500.0
    ids, ns, sys_, ssims, chks = [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        lum = _golden_lum_i64(px)
        hh, ww = lum.shape
        h2, w2 = hh // 2, ww // 2
        c = lum[: h2 * 2, : w2 * 2]
        ds = c.reshape(h2, 2, w2, 2).sum(axis=(1, 3)) // 4
        recon = np.kron(ds, np.ones((2, 2), dtype=np.int64))
        flat_x = [int(v) for v in c.ravel()]
        flat_y = [int(v) for v in recon.ravel()]
        n = len(flat_x)
        sx = sum(flat_x)
        sy = sum(flat_y)
        sxx = sum(v * v for v in flat_x)
        syy = sum(v * v for v in flat_y)
        sxy = sum(a * b for a, b in zip(flat_x, flat_y))
        mx = sx / n
        my = sy / n
        vx = sxx / n - mx * mx
        vy = syy / n - my * my
        cov = sxy / n - mx * my
        ssim = ((2.0 * mx * my + C1) * (2.0 * cov + C2)) / (
            (mx * mx + my * my + C1) * (vx + vy + C2)
        )
        ids.append(image_id)
        ns.append(n)
        sys_.append(sy)
        ssims.append(int(np.floor(ssim * 1_000_000.0)))
        chks.append(sum(((k % 97) + 1) * v for k, v in enumerate(flat_y)))
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_px": pa.array(ns, pa.int32()),
            "sum_recon": pa.array(sys_, pa.int64()),
            "ssim_micros": pa.array(ssims, pa.int64()),
            "chk": pa.array(chks, pa.int64()),
        }),
        os.path.join(OUT, f"ssim_sf{sf:g}.parquet"),
    )
    print(f"ssim golden: {len(ids)} rows (jpg skipped)")


def make_fast_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for image_fast_corners (r05 wave 21): the SAME packed
    16-bit neighbor codes routed through a 65536-entry max-circular-run
    LOOKUP TABLE built with scalar loops (vs the engine's doubled-axis
    slice-ANDs) — two different arc detectors, same SPEC."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdg_engine.ops.payload import FAST_CIRCLE, FAST_T

    lut = np.zeros(65536, dtype=np.int64)
    for code in range(65536):
        bits = [(code >> k) & 1 for k in range(16)]
        best = run = 0
        for b in bits + bits:  # doubled for circular runs
            run = run + 1 if b else 0
            best = max(best, run)
        lut[code] = min(best, 16)
    ids, nis, ncs, nbs, nds, chks = [], [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        lum = _golden_lum_i64(px)
        hh, ww = lum.shape
        c = lum[3:hh - 3, 3:ww - 3]
        bcode = np.zeros(c.shape, dtype=np.int64)
        dcode = np.zeros(c.shape, dtype=np.int64)
        for k, (dr, dc) in enumerate(FAST_CIRCLE):
            sh = lum[3 + dr:hh - 3 + dr, 3 + dc:ww - 3 + dc]
            bcode |= ((sh > c + FAST_T).astype(np.int64) << k)
            dcode |= ((sh < c - FAST_T).astype(np.int64) << k)
        b_hit = lut[bcode] >= 12
        d_hit = lut[dcode] >= 12
        corner = b_hit | d_hit
        wgt = (np.arange(corner.size, dtype=np.int64) % 97) + 1
        ids.append(image_id)
        nis.append(int(corner.size))
        ncs.append(int(corner.sum()))
        nbs.append(int(b_hit.sum()))
        nds.append(int(d_hit.sum()))
        chks.append(int((wgt * corner.ravel().astype(np.int64)).sum()))
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_interior": pa.array(nis, pa.int32()),
            "n_corners": pa.array(ncs, pa.int64()),
            "n_bright": pa.array(nbs, pa.int64()),
            "n_dark": pa.array(nds, pa.int64()),
            "chk": pa.array(chks, pa.int64()),
        }),
        os.path.join(OUT, f"fast_sf{sf:g}.parquet"),
    )
    print(f"fast golden: {len(ids)} rows; corners total {sum(ncs)}")


def make_affine_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for image_affine_bilinear (r05 wave 22): same fixed-point
    SPEC, INDEPENDENT mechanics — four np.take gathers over flattened
    clamped indices (vs the engine's 2-D fancy indexing)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdg_engine.ops.payload import AFFINE_COS_FP, AFFINE_SIN_FP

    ids, nss, sums, maxs, chks = [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        lum = _golden_lum_i64(px)
        hh, ww = lum.shape
        flat = lum.ravel()
        r = np.arange(hh, dtype=np.int64)[:, None]
        c = np.arange(ww, dtype=np.int64)[None, :]
        dr2 = 2 * r - (hh - 1)
        dc2 = 2 * c - (ww - 1)
        sc2 = AFFINE_COS_FP * dc2 + AFFINE_SIN_FP * dr2 + (ww - 1) * 65536
        sr2 = (-AFFINE_SIN_FP * dc2 + AFFINE_COS_FP * dr2
               + (hh - 1) * 65536)
        c0 = sc2 // 131072
        r0 = sr2 // 131072
        fc = (sc2 - c0 * 131072) * 256 // 131072
        fr = (sr2 - r0 * 131072) * 256 // 131072
        ok = (r0 >= 0) & (r0 + 1 < hh) & (c0 >= 0) & (c0 + 1 < ww)
        r0c = np.clip(r0, 0, hh - 2)
        c0c = np.clip(c0, 0, ww - 2)
        base = (r0c * ww + c0c).ravel()
        p00 = np.take(flat, base)
        p01 = np.take(flat, base + 1)
        p10 = np.take(flat, base + ww)
        p11 = np.take(flat, base + ww + 1)
        frf = fr.ravel()
        fcf = fc.ravel()
        out = (
            (256 - frf) * ((256 - fcf) * p00 + fcf * p01)
            + frf * ((256 - fcf) * p10 + fcf * p11)
        ) // 65536
        out = np.where(ok.ravel(), out, 0)
        wgt = (np.arange(out.size, dtype=np.int64) % 97) + 1
        ids.append(image_id)
        nss.append(int(ok.sum()))
        sums.append(int(out.sum()))
        maxs.append(int(out.max()))
        chks.append(int((wgt * out).sum()))
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_sampled": pa.array(nss, pa.int64()),
            "sum_out": pa.array(sums, pa.int64()),
            "max_out": pa.array(maxs, pa.int64()),
            "chk": pa.array(chks, pa.int64()),
        }),
        os.path.join(OUT, f"affine_sf{sf:g}.parquet"),
    )
    print(f"affine golden: {len(ids)} rows (jpg skipped)")


def make_hough_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for image_hough_lines (r05 wave 23): same fixed-point
    SPEC, INDEPENDENT mechanics — clamp-indexed Sobel edge map on the
    generator pixels (vs the engine's decode + np.pad) and np.add.at
    scatter into a (12, W) matrix (vs the engine's 12 bincount
    passes); chk folded with arbitrary-precision python ints."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdg_engine.ops.payload import (
        HOUGH_COS_FP, HOUGH_OFF, HOUGH_RHO_Q, HOUGH_SIN_FP, HOUGH_W,
        SOBEL_EDGE_T,
    )

    def edge_view(z, dr, dc):
        h, w = z.shape
        ri = np.clip(np.arange(h) + dr, 0, h - 1)
        ci = np.clip(np.arange(w) + dc, 0, w - 1)
        return z[np.ix_(ri, ci)]

    ids, nes, bvs, bts, brs, chks = [], [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        lum = _golden_lum_i64(px)
        tl, t, tr = (edge_view(lum, -1, -1), edge_view(lum, -1, 0),
                     edge_view(lum, -1, 1))
        le, r = edge_view(lum, 0, -1), edge_view(lum, 0, 1)
        bl, b, br = (edge_view(lum, 1, -1), edge_view(lum, 1, 0),
                     edge_view(lum, 1, 1))
        gx = (tr + 2 * r + br) - (tl + 2 * le + bl)
        gy = (bl + 2 * b + br) - (tl + 2 * t + tr)
        mag = np.abs(gx) + np.abs(gy)
        er, ec = np.nonzero(mag > SOBEL_EDGE_T)
        er = er.astype(np.int64)
        ec = ec.astype(np.int64)
        accm = np.zeros((12, HOUGH_W), dtype=np.int64)
        for th in range(12):
            rb = (ec * HOUGH_COS_FP[th] + er * HOUGH_SIN_FP[th]) \
                // HOUGH_RHO_Q
            np.add.at(accm, (th, rb + HOUGH_OFF), 1)
        flat = accm.ravel()
        if er.size == 0:
            best_v, best_t, best_r, chk = 0, -1, 0, 0
        else:
            nz = np.nonzero(flat)[0]
            best_k = min(
                (int(k) for k in nz),
                key=lambda k: (-int(flat[k]), k),
            )
            best_v = int(flat[best_k])
            best_t, best_r = best_k // HOUGH_W, best_k % HOUGH_W - HOUGH_OFF
            chk = sum(
                int(flat[k]) ** 2 * (int(k) + 1) for k in nz
            )
        ids.append(image_id)
        nes.append(int(er.size))
        bvs.append(best_v)
        bts.append(best_t)
        brs.append(best_r)
        chks.append(int(chk))
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_edges": pa.array(nes, pa.int64()),
            "best_votes": pa.array(bvs, pa.int64()),
            "best_theta": pa.array(bts, pa.int64()),
            "best_rho": pa.array(brs, pa.int64()),
            "chk": pa.array(chks, pa.int64()),
        }),
        os.path.join(OUT, f"hough_sf{sf:g}.parquet"),
    )
    print(f"hough golden: {len(ids)} rows (jpg skipped)")


def make_canny_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for image_canny_hysteresis (r05 wave 25): same
    two-threshold SPEC, INDEPENDENT mechanics — clamp-indexed Sobel on
    generator pixels and a scalar deque BFS flood from the strong set
    over the weak mask (vs the engine's vectorized dilation
    fixpoint)."""
    from collections import deque

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdg_engine.ops.payload import CANNY_STRONG_T, SOBEL_EDGE_T

    def edge_view(z, dr, dc):
        h, w = z.shape
        ri = np.clip(np.arange(h) + dr, 0, h - 1)
        ci = np.clip(np.arange(w) + dc, 0, w - 1)
        return z[np.ix_(ri, ci)]

    ids, nws, nss, nfs, chks = [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        lum = _golden_lum_i64(px)
        tl, t, tr = (edge_view(lum, -1, -1), edge_view(lum, -1, 0),
                     edge_view(lum, -1, 1))
        le, r = edge_view(lum, 0, -1), edge_view(lum, 0, 1)
        bl, b, br = (edge_view(lum, 1, -1), edge_view(lum, 1, 0),
                     edge_view(lum, 1, 1))
        gx = (tr + 2 * r + br) - (tl + 2 * le + bl)
        gy = (bl + 2 * b + br) - (tl + 2 * t + tr)
        mag = np.abs(gx) + np.abs(gy)
        weak = mag > SOBEL_EDGE_T
        strong = mag > CANNY_STRONG_T
        hh, ww = weak.shape
        final = np.zeros_like(weak)
        q = deque()
        for rr, cc in zip(*np.nonzero(strong)):
            final[rr, cc] = True
            q.append((int(rr), int(cc)))
        while q:
            rr, cc = q.popleft()
            for dr in (-1, 0, 1):
                for dc in (-1, 0, 1):
                    nr, nc = rr + dr, cc + dc
                    if (0 <= nr < hh and 0 <= nc < ww
                            and weak[nr, nc] and not final[nr, nc]):
                        final[nr, nc] = True
                        q.append((nr, nc))
        idx = np.flatnonzero(final).astype(np.int64)
        ids.append(image_id)
        nws.append(int(weak.sum()))
        nss.append(int(strong.sum()))
        nfs.append(int(final.sum()))
        chks.append(int((idx + 1).sum()))
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_weak": pa.array(nws, pa.int64()),
            "n_strong": pa.array(nss, pa.int64()),
            "n_final": pa.array(nfs, pa.int64()),
            "chk": pa.array(chks, pa.int64()),
        }),
        os.path.join(OUT, f"canny_sf{sf:g}.parquet"),
    )
    print(f"canny golden: {len(ids)} rows (jpg skipped)")


def make_harris_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for image_harris_corners (r05 wave 26): the same Harris
    SPEC through three INDEPENDENT mechanisms — np.ix_ clamp-free
    index gathers for the Sobel taps (vs the engine's shifted slices),
    a SUMMED-AREA TABLE for the 3x3 box sums (vs slice adds), and a
    scalar candidate loop for the NMS (vs vectorized comparisons)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdg_engine.ops.payload import HARRIS_T

    ids, nis, ncs, sqs, mxs, chks = [], [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        g = _golden_lum_i64(px) // 1000
        hh, ww = g.shape
        rr = np.arange(1, hh - 1)
        cc = np.arange(1, ww - 1)

        def tap(dr, dc):
            return g[np.ix_(rr + dr, cc + dc)]

        gx = (tap(-1, 1) + 2 * tap(0, 1) + tap(1, 1)) \
            - (tap(-1, -1) + 2 * tap(0, -1) + tap(1, -1))
        gy = (tap(1, -1) + 2 * tap(1, 0) + tap(1, 1)) \
            - (tap(-1, -1) + 2 * tap(-1, 0) + tap(-1, 1))

        def box3_sat(a):
            s = np.zeros((a.shape[0] + 1, a.shape[1] + 1), dtype=np.int64)
            s[1:, 1:] = a.cumsum(0).cumsum(1)
            return s[3:, 3:] - s[:-3, 3:] - s[3:, :-3] + s[:-3, :-3]

        sxx = box3_sat(gx * gx)
        syy = box3_sat(gy * gy)
        sxy = box3_sat(gx * gy)
        resp = 20 * (sxx * syy - sxy * sxy) - (sxx + syy) ** 2
        core = resp[1:-1, 1:-1]
        ch, cw = core.shape
        n_c = 0
        chk = 0
        for fr, fc in zip(*np.nonzero(core > HARRIS_T)):
            v = int(core[fr, fc])
            keep = True
            for dr in (-1, 0, 1):
                for dc in (-1, 0, 1):
                    if dr == 0 and dc == 0:
                        continue
                    nb = int(resp[1 + fr + dr, 1 + fc + dc])
                    if dr < 0 or (dr == 0 and dc < 0):
                        if not v > nb:
                            keep = False
                    elif not v >= nb:
                        keep = False
            if keep:
                n_c += 1
                chk += int(fr) * cw + int(fc) + 1
        ids.append(image_id)
        nis.append(int(core.size))
        ncs.append(n_c)
        sqs.append(sum(int(v) // 65536 for v in core.ravel() if v > 0))
        mxs.append(int(core.max()) if core.size else 0)
        chks.append(chk)
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_interior": pa.array(nis, pa.int64()),
            "n_corners": pa.array(ncs, pa.int64()),
            "sum_rq": pa.array(sqs, pa.int64()),
            "max_r": pa.array(mxs, pa.int64()),
            "chk": pa.array(chks, pa.int64()),
        }),
        os.path.join(OUT, f"harris_sf{sf:g}.parquet"),
    )
    print(f"harris golden: {len(ids)} rows; corners total {sum(ncs)}")


def make_skeleton_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for image_skeleton_zs (r05 wave 27): the same Zhang-Suen
    SPEC through INDEPENDENT mechanics — the 8 neighbors are packed
    into an 8-bit code and every per-pixel predicate (B range, A == 1,
    the two sub-pass products) comes from 256-entry LOOKUP TABLES
    built with scalar loops (vs the engine's arithmetic on shifted
    slices)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdg_engine.ops.payload import SKEL_T

    # bit k of the code = P(2+k)  (P2..P9 clockwise from North)
    lut_sub = [np.zeros(256, dtype=bool), np.zeros(256, dtype=bool)]
    for code in range(256):
        p = [(code >> k) & 1 for k in range(8)]
        b = sum(p)
        a = sum(1 for k in range(8) if p[k] == 0 and p[(k + 1) % 8] == 1)
        base = 2 <= b <= 6 and a == 1
        lut_sub[0][code] = base and p[0] * p[2] * p[4] == 0 \
            and p[2] * p[4] * p[6] == 0
        lut_sub[1][code] = base and p[0] * p[2] * p[6] == 0 \
            and p[0] * p[4] * p[6] == 0
    offs = ((-1, 0), (-1, 1), (0, 1), (1, 1),
            (1, 0), (1, -1), (0, -1), (-1, -1))
    ids, nfs, nss, nits, chks = [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        g = _golden_lum_i64(px) // 1000
        fg = (g > SKEL_T).astype(np.int64)
        n_fg = int(fg.sum())
        it = 0
        while True:
            changed = False
            for sub in (0, 1):
                z = np.pad(fg, 1)
                code = np.zeros_like(fg)
                for k, (dr, dc) in enumerate(offs):
                    code |= z[1 + dr:z.shape[0] - 1 + dr,
                              1 + dc:z.shape[1] - 1 + dc] << k
                kill = (fg == 1) & lut_sub[sub][code]
                if kill.any():
                    fg = np.where(kill, 0, fg)
                    changed = True
            it += 1
            if not changed:
                break
        idx = np.flatnonzero(fg).astype(np.int64)
        ids.append(image_id)
        nfs.append(n_fg)
        nss.append(int(fg.sum()))
        nits.append(it)
        chks.append(int((idx + 1).sum()))
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_fg": pa.array(nfs, pa.int64()),
            "n_skel": pa.array(nss, pa.int64()),
            "n_iters": pa.array(nits, pa.int64()),
            "chk": pa.array(chks, pa.int64()),
        }),
        os.path.join(OUT, f"skeleton_sf{sf:g}.parquet"),
    )
    print(f"skeleton golden: {len(ids)} rows; skel px total {sum(nss)}")


def make_bpe_encode_golden(sf_dir: str = "/root/testdata/sf0.01",
                           rounds: int = 8) -> None:
    """Golden for bpe_encode_docs (r05 wave 27): the scalar trainer
    from make_bpe_golden re-run, then every document ENCODED through
    the merged vocabulary with plain dict lookups, aggregated per
    lang.  SPEC shared with the engine: split on single space, drop
    empties, token count of a word = len of its merged token list,
    char count = len(word)."""
    from collections import Counter

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyarrow.parquet as pq_read

    tbl = pq_read.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["lang", "text"]
    )
    langs = tbl["lang"].to_pylist()
    texts = tbl["text"].to_pylist()
    words = Counter()
    for t in texts:
        for w in t.split(" "):
            if w:
                words[w] += 1
    vocab = {w: list(w) for w in words}
    for _ in range(rounds):
        pc = Counter()
        for w, toks in vocab.items():
            c = words[w]
            for x, y in zip(toks, toks[1:]):
                pc[(x, y)] += c
        if not pc:
            break
        (a, b), _cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        for w, t in vocab.items():
            res = []
            i = 0
            while i < len(t):
                if i + 1 < len(t) and t[i] == a and t[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(t[i])
                    i += 1
            vocab[w] = res
    agg: dict = {}
    for lang, text in zip(langs, texts):
        ws = [w for w in text.split(" ") if w]
        e = agg.setdefault(lang, [0, 0, 0, 0])
        e[0] += 1
        e[1] += len(ws)
        e[2] += sum(len(vocab[w]) for w in ws)
        e[3] += sum(len(w) for w in ws)
    rows = sorted(agg.items())
    pq.write_table(
        pa.table({
            "lang": [k for k, _ in rows],
            "n_docs": pa.array([v[0] for _, v in rows], pa.int64()),
            "sum_words": pa.array([v[1] for _, v in rows], pa.int64()),
            "sum_tokens": pa.array([v[2] for _, v in rows], pa.int64()),
            "sum_chars": pa.array([v[3] for _, v in rows], pa.int64()),
        }),
        os.path.join(OUT, "bpe_encode_sf0.01.parquet"),
    )
    print(f"bpe encode golden: {rows}")


def make_lbp_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for image_lbp_texture (r05 wave 29): the 8 neighbor
    comparisons packed into a code via np.take GATHERS on flat index
    arrays, uniformity via a 256-entry transition LUT built with
    scalar loops (vs the engine's slice arithmetic)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    lut_u = np.zeros(256, dtype=bool)
    for code in range(256):
        p = [(code >> k) & 1 for k in range(8)]
        t = sum(1 for k in range(8) if p[k] != p[(k + 1) % 8])
        lut_u[code] = t <= 2
    offs = ((-1, 0), (-1, 1), (0, 1), (1, 1),
            (1, 0), (1, -1), (0, -1), (-1, -1))
    ids, nis, nus, scs, chks = [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        g = _golden_lum_i64(px) // 1000
        hh, ww = g.shape
        rr, cc = np.meshgrid(
            np.arange(1, hh - 1), np.arange(1, ww - 1), indexing="ij"
        )
        flat = g.ravel()
        ctr = flat.take(rr * ww + cc)
        code = np.zeros_like(ctr)
        for k, (dr, dc) in enumerate(offs):
            nb = flat.take((rr + dr) * ww + (cc + dc))
            code |= ((nb >= ctr).astype(np.int64) << k)
        wgt = (np.arange(code.size, dtype=np.int64) % 97) + 1
        ids.append(image_id)
        nis.append(int(code.size))
        nus.append(int(lut_u[code].sum()))
        scs.append(int(code.sum()))
        chks.append(int((wgt * code.ravel()).sum()))
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_interior": pa.array(nis, pa.int64()),
            "n_uniform": pa.array(nus, pa.int64()),
            "sum_code": pa.array(scs, pa.int64()),
            "chk": pa.array(chks, pa.int64()),
        }),
        os.path.join(OUT, f"lbp_sf{sf:g}.parquet"),
    )
    print(f"lbp golden: {len(ids)} rows; uniform total {sum(nus)}")


def make_canny_nms_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for image_canny_nms (r05 wave 29): the same sector SPEC
    resolved per-candidate with a SCALAR loop (vs the engine's
    vectorized sector masks)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdg_engine.ops.payload import SOBEL_EDGE_T, TAN22_FP

    ids, nrs, nts, chks = [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        lum = _golden_lum_i64(px)
        hh, ww = lum.shape

        def gxy(r, c):
            gx = (lum[r - 1, c + 1] + 2 * lum[r, c + 1] + lum[r + 1, c + 1]) \
                - (lum[r - 1, c - 1] + 2 * lum[r, c - 1] + lum[r + 1, c - 1])
            gy = (lum[r + 1, c - 1] + 2 * lum[r + 1, c] + lum[r + 1, c + 1]) \
                - (lum[r - 1, c - 1] + 2 * lum[r - 1, c] + lum[r - 1, c + 1])
            return int(gx), int(gy)

        def mag(r, c):
            gx, gy = gxy(r, c)
            return abs(gx) + abs(gy)

        n_raw = n_thin = chk = 0
        cw = ww - 4
        for r in range(2, hh - 2):
            for c in range(2, ww - 2):
                m = mag(r, c)
                if m <= SOBEL_EDGE_T:
                    continue
                n_raw += 1
                gx, gy = gxy(r, c)
                ax, ay = abs(gx), abs(gy)
                if 256 * ay <= TAN22_FP * ax:
                    f, bk = (0, 1), (0, -1)
                elif 256 * ax <= TAN22_FP * ay:
                    f, bk = (1, 0), (-1, 0)
                elif gx * gy > 0:
                    f, bk = (1, 1), (-1, -1)
                else:
                    f, bk = (1, -1), (-1, 1)
                if m > mag(r + f[0], c + f[1]) and m >= mag(r + bk[0],
                                                            c + bk[1]):
                    n_thin += 1
                    chk += (r - 2) * cw + (c - 2) + 1
        ids.append(image_id)
        nrs.append(n_raw)
        nts.append(n_thin)
        chks.append(chk)
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_raw": pa.array(nrs, pa.int64()),
            "n_thin": pa.array(nts, pa.int64()),
            "chk": pa.array(chks, pa.int64()),
        }),
        os.path.join(OUT, f"canny_nms_sf{sf:g}.parquet"),
    )
    print(f"canny-nms golden: {len(ids)} rows; thin total {sum(nts)}")


def make_zlib_golden(sf_dir: str = "/root/testdata/sf0.01") -> None:
    """Golden for doc_zlib_ratio (r05 wave 29).  zlib (RFC 1950/1951,
    level 6) is a deterministic spec'd codec, so the 'independence'
    here is in the plumbing only: pandas scalar loop vs the engine's
    Arrow-batched mapInPandas — the codec is the shared SPEC exactly
    like libm trig in the hillshade golden."""
    import zlib

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyarrow.parquet as pq_read

    tbl = pq_read.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["lang", "text"]
    )
    agg: dict = {}
    for lang, text in zip(tbl["lang"].to_pylist(), tbl["text"].to_pylist()):
        raw = text.encode("utf-8")
        comp = zlib.compress(raw, 6)
        e = agg.setdefault(lang, [0, 0, 0])
        e[0] += 1
        e[1] += len(raw)
        e[2] += len(comp)
    rows = sorted(agg.items())
    pq.write_table(
        pa.table({
            "lang": [k for k, _ in rows],
            "n_docs": pa.array([v[0] for _, v in rows], pa.int64()),
            "sum_raw": pa.array([v[1] for _, v in rows], pa.int64()),
            "sum_comp": pa.array([v[2] for _, v in rows], pa.int64()),
        }),
        os.path.join(OUT, "zlib_sf0.01.parquet"),
    )
    print(f"zlib golden: {rows}")


def make_dither_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for image_dither_fs (r05 wave 30): the same error-
    diffusion SPEC as a fully SCALAR python-int 2-D list walk (vs the
    engine's numpy row buffers)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, nps, nos, chks = [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        g = _golden_lum_i64(px) // 1000
        hh, ww = g.shape
        buf = [[int(v) for v in row] for row in g]
        n_on = chk = 0
        for r in range(hh):
            for c in range(ww):
                v = buf[r][c]
                on = v >= 128
                if on:
                    n_on += 1
                    chk += r * ww + c + 1
                e = v - (255 if on else 0)
                if c + 1 < ww:
                    buf[r][c + 1] += e * 7 // 16
                if r + 1 < hh:
                    if c - 1 >= 0:
                        buf[r + 1][c - 1] += e * 3 // 16
                    buf[r + 1][c] += e * 5 // 16
                    if c + 1 < ww:
                        buf[r + 1][c + 1] += e * 1 // 16
        ids.append(image_id)
        nps.append(hh * ww)
        nos.append(n_on)
        chks.append(chk)
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_px": pa.array(nps, pa.int64()),
            "n_on": pa.array(nos, pa.int64()),
            "chk": pa.array(chks, pa.int64()),
        }),
        os.path.join(OUT, f"dither_sf{sf:g}.parquet"),
    )
    print(f"dither golden: {len(ids)} rows; on total {sum(nos)}")


def make_decimate_golden() -> None:
    """Golden for multimodal_audio_decimate (r05 wave 30): regenerated
    waveform + reimplemented PCM16 (the audio-golden convention), FIR
    run as a SCALAR python-int loop (vs the engine's strided slices)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(1234)
    ids, nis, nos, sas, mxs, chks = [], [], [], [], [], []
    for i in range(64):
        sr = [16000, 22050, 44100][i % 3]
        n_ch = 1 + (i % 2)
        dur_ms = 40 + (i % 7) * 10
        t = np.arange(int(sr * dur_ms / 1000)) / sr
        freq = 220.0 * (1 + (i % 8))
        wave = 0.5 * np.sin(2 * np.pi * freq * t)
        wave = wave[:, None] + 0.05 * rng.standard_normal((len(t), n_ch))
        pcm = np.clip(np.round(wave * 32767.0), -32768, 32767).astype(np.int16)
        x = [int(v) for v in pcm[:, 0]]
        n = len(x)
        ys = []  # python // is floor division for ints (the SPEC's floor)
        nn = 2
        while 2 * nn + 3 < n:
            y = (-x[2 * nn - 3] + 9 * x[2 * nn - 1] + 16 * x[2 * nn]
                 + 9 * x[2 * nn + 1] - x[2 * nn + 3])
            ys.append((nn, y // 32))
            nn += 1
        ids.append(f"aud{i:08d}")
        nis.append(n)
        nos.append(len(ys))
        sas.append(sum(abs(v) for _, v in ys))
        mxs.append(max((abs(v) for _, v in ys), default=0))
        chks.append(sum(v * ((k % 97) + 1) for k, v in ys))
    pq.write_table(
        pa.table({
            "media_id": ids,
            "n_in": pa.array(nis, pa.int64()),
            "n_out": pa.array(nos, pa.int64()),
            "sum_abs": pa.array(sas, pa.int64()),
            "max_abs": pa.array(mxs, pa.int64()),
            "chk": pa.array(chks, pa.int64()),
        }),
        os.path.join(OUT, "audio_decimate.parquet"),
    )
    print(f"decimate golden: {len(ids)} clips")


def make_dog_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for image_dog_blobs (r05 wave 31): the binomial blur via
    flat np.take GATHERS on index arrays (vs the engine's slice adds)
    and the two-polarity NMS resolved with a SCALAR candidate loop."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdg_engine.ops.payload import DOG_T

    def blur_take(a):
        hh, ww = a.shape
        flat = a.ravel()
        rr, cc = np.meshgrid(
            np.arange(hh), np.arange(ww - 4), indexing="ij"
        )
        t = sum(
            w * flat.take(rr * ww + cc + k)
            for k, w in enumerate((1, 4, 6, 4, 1))
        )
        th, tw = t.shape
        tf = t.ravel()
        rr2, cc2 = np.meshgrid(
            np.arange(th - 4), np.arange(tw), indexing="ij"
        )
        u = sum(
            w * tf.take((rr2 + k) * tw + cc2)
            for k, w in enumerate((1, 4, 6, 4, 1))
        )
        return u // 256

    ids, ncs, nbs, nds, sds, chks = [], [], [], [], [], []
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        lum = _golden_lum_i64(px)
        b1 = blur_take(lum)
        b2 = blur_take(b1)
        dog = b1[2:-2, 2:-2] - b2
        hh, ww = dog.shape
        n_b = n_d = chk = 0
        cw = ww - 2
        earlier = {(-1, -1), (-1, 0), (-1, 1), (0, -1)}
        for r in range(1, hh - 1):
            for c in range(1, ww - 1):
                v = int(dog[r, c])
                if v > DOG_T:
                    ok = True
                    for dr in (-1, 0, 1):
                        for dc in (-1, 0, 1):
                            if dr == 0 and dc == 0:
                                continue
                            nb = int(dog[r + dr, c + dc])
                            if (dr, dc) in earlier:
                                ok &= v > nb
                            else:
                                ok &= v >= nb
                    if ok:
                        n_b += 1
                        chk += (r - 1) * cw + (c - 1) + 1
                elif v < -DOG_T:
                    ok = True
                    for dr in (-1, 0, 1):
                        for dc in (-1, 0, 1):
                            if dr == 0 and dc == 0:
                                continue
                            nb = int(dog[r + dr, c + dc])
                            if (dr, dc) in earlier:
                                ok &= v < nb
                            else:
                                ok &= v <= nb
                    if ok:
                        n_d += 1
                        chk += (r - 1) * cw + (c - 1) + 1
        core = dog[1:-1, 1:-1]
        ids.append(image_id)
        ncs.append(int(core.size))
        nbs.append(n_b)
        nds.append(n_d)
        sds.append(int(np.abs(core).sum()))
        chks.append(chk)
    pq.write_table(
        pa.table({
            "image_id": ids,
            "n_core": pa.array(ncs, pa.int64()),
            "n_bright": pa.array(nbs, pa.int64()),
            "n_dark": pa.array(nds, pa.int64()),
            "sum_absdog": pa.array(sds, pa.int64()),
            "chk": pa.array(chks, pa.int64()),
        }),
        os.path.join(OUT, f"dog_sf{sf:g}.parquet"),
    )
    print(f"dog golden: {len(ids)} rows; blobs {sum(nbs)}+{sum(nds)}")


def make_haar_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for image_haar_energy (r05 wave 37): the same
    unnormalized 2-level Haar SPEC with every 2x2 block corner
    gathered by SCALAR loops over python ints (vs the engine's
    strided-slice arithmetic)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def level(gr):
        hh, ww = len(gr) // 2, len(gr[0]) // 2
        ll = [[0] * ww for _ in range(hh)]
        eh = ev = ed = 0
        for r in range(hh):
            for c in range(ww):
                a = gr[2 * r][2 * c]
                b = gr[2 * r][2 * c + 1]
                cc = gr[2 * r + 1][2 * c]
                d = gr[2 * r + 1][2 * c + 1]
                ll[r][c] = a + b + cc + d
                eh += (a - b + cc - d) ** 2
                ev += (a + b - cc - d) ** 2
                ed += (a - b - cc + d) ** 2
        return ll, eh, ev, ed

    cols = {k: [] for k in ("image_id", "n_px", "e_ll2", "e_h1", "e_v1",
                            "e_d1", "e_h2", "e_v2", "e_d2")}
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        g64 = _golden_lum_i64(px) // 1000
        hh, ww = (g64.shape[0] // 4) * 4, (g64.shape[1] // 4) * 4
        gr = [[int(v) for v in row[:ww]] for row in g64[:hh]]
        ll1, eh1, ev1, ed1 = level(gr)
        ll2, eh2, ev2, ed2 = level(ll1)
        ell2 = sum(v * v for row in ll2 for v in row)
        cols["image_id"].append(image_id)
        for k, v in (("n_px", hh * ww), ("e_ll2", ell2), ("e_h1", eh1),
                     ("e_v1", ev1), ("e_d1", ed1), ("e_h2", eh2),
                     ("e_v2", ev2), ("e_d2", ed2)):
            cols[k].append(v)
    pq.write_table(
        pa.table({k: (v if k == "image_id" else pa.array(v, pa.int64()))
                  for k, v in cols.items()}),
        os.path.join(OUT, f"haar_sf{sf:g}.parquet"),
    )
    print(f"haar golden: {len(cols['image_id'])} rows")


def make_seam_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for image_seam_carve (r05 wave 37): the whole energy +
    DP + backtrack SPEC as scalar python ints (vs the engine's
    row-vectorized numpy DP)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    INF = 1 << 40
    cols = {k: [] for k in ("image_id", "seam_cost", "top_col",
                            "bottom_col", "sum_energy", "chk")}
    for i, image_id, fmt, lon, lat, w_, h_, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        g64 = _golden_lum_i64(px) // 1000
        h, w = g64.shape
        g = [[int(v) for v in row] for row in g64]
        e = [[abs(g[r][min(c + 1, w - 1)] - g[r][max(c - 1, 0)])
              + abs(g[min(r + 1, h - 1)][c] - g[max(r - 1, 0)][c])
              for c in range(w)] for r in range(h)]
        m = [e[0][:]]
        for r in range(1, h):
            prev = m[r - 1]
            m.append([
                e[r][c] + min(prev[c - 1] if c > 0 else INF, prev[c],
                              prev[c + 1] if c + 1 < w else INF)
                for c in range(w)
            ])
        bottom = min(range(w), key=lambda c: (m[h - 1][c], c))
        cost = m[h - 1][bottom]
        col = bottom
        chk = (h - 1) * w + col + 1
        for r in range(h - 2, -1, -1):
            cand = [c for c in (col - 1, col, col + 1) if 0 <= c < w]
            col = min(cand, key=lambda c: (m[r][c], c))
            chk += r * w + col + 1
        cols["image_id"].append(image_id)
        for k, v in (("seam_cost", cost), ("top_col", col),
                     ("bottom_col", bottom),
                     ("sum_energy", sum(sum(row) for row in e)),
                     ("chk", chk)):
            cols[k].append(v)
    pq.write_table(
        pa.table({k: (v if k == "image_id" else pa.array(v, pa.int64()))
                  for k, v in cols.items()}),
        os.path.join(OUT, f"seam_sf{sf:g}.parquet"),
    )
    print(f"seam golden: {len(cols['image_id'])} rows")


def make_biquad_golden() -> None:
    """Golden for multimodal_audio_biquad (r05 wave 42): regenerated
    waveform + reimplemented PCM16 (the audio-golden convention), the
    WHOLE filter run as a fully scalar python-int loop (vs the
    engine's vectorized feed-forward half)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdg_engine.ops.multimodal import BIQUAD_A, BIQUAD_B, BIQUAD_Q

    rng = np.random.default_rng(1234)
    cols = {k: [] for k in ("media_id", "n", "sum_abs_y", "max_abs_y",
                            "y_last", "chk")}
    for i in range(64):
        sr = [16000, 22050, 44100][i % 3]
        n_ch = 1 + (i % 2)
        dur_ms = 40 + (i % 7) * 10
        t = np.arange(int(sr * dur_ms / 1000)) / sr
        freq = 220.0 * (1 + (i % 8))
        wave = 0.5 * np.sin(2 * np.pi * freq * t)
        wave = wave[:, None] + 0.05 * rng.standard_normal((len(t), n_ch))
        pcm = np.clip(np.round(wave * 32767.0), -32768, 32767).astype(np.int16)
        x = [int(v) for v in pcm[:, 0]]
        b0, b1, b2 = BIQUAD_B
        a1, a2 = BIQUAD_A
        x1 = x2 = y1 = y2 = 0
        ys = []
        for v in x:
            y = (b0 * v + b1 * x1 + b2 * x2 + a1 * y1 + a2 * y2) // BIQUAD_Q
            ys.append(y)
            x2, x1 = x1, v
            y2, y1 = y1, y
        cols["media_id"].append(f"aud{i:08d}")
        cols["n"].append(len(ys))
        cols["sum_abs_y"].append(sum(abs(v) for v in ys))
        cols["max_abs_y"].append(max((abs(v) for v in ys), default=0))
        cols["y_last"].append(ys[-1] if ys else 0)
        cols["chk"].append(sum(v * ((k % 97) + 1)
                               for k, v in enumerate(ys)))
    pq.write_table(
        pa.table({k: (v if k == "media_id" else pa.array(v, pa.int64()))
                  for k, v in cols.items()}),
        os.path.join(OUT, "audio_biquad.parquet"),
    )
    print(f"biquad golden: {len(cols['media_id'])} clips")


def make_template_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for image_template_match (r05 wave 44): windows gathered
    via np.take over flat indices + a SCALAR argmin re-resolution (vs
    the engine's shifted-slice accumulation)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdg_engine.ops.payload import TEMPLATE_K, _match_template

    t = _match_template()
    K = TEMPLATE_K
    cols = {k: [] for k in ("image_id", "n_pos", "best_ssd", "best_row",
                            "best_col", "ssd_chk")}
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        g = (_golden_lum_i64(px) // 1000).ravel()
        # ADVICE r05: use the raster's TRUE dims — the square shortcut
        # silently breaks the flat-index window gather if the fixture
        # ever gains non-square images (the engine kernel already uses
        # the true shape)
        hh, ww = px.shape[0], px.shape[1]
        oh, ow = hh - K + 1, ww - K + 1
        base = (np.arange(oh)[:, None] * ww + np.arange(ow)[None, :])
        off = (np.arange(K)[:, None] * ww + np.arange(K)[None, :]).ravel()
        wins = np.take(g, base.ravel()[:, None] + off[None, :])
        d = wins - t.ravel()[None, :]
        ssd = (d * d).sum(axis=1)
        best = 0
        for j in range(1, len(ssd)):  # scalar leftmost-min re-resolution
            if ssd[j] < ssd[best]:
                best = j
        cols["image_id"].append(image_id)
        cols["n_pos"].append(oh * ow)
        cols["best_ssd"].append(int(ssd[best]))
        cols["best_row"].append(best // ow)
        cols["best_col"].append(best % ow)
        cols["ssd_chk"].append(int((ssd % 997).sum()))
    pq.write_table(
        pa.table({k: (v if k == "image_id" else pa.array(v, pa.int64()))
                  for k, v in cols.items()}),
        os.path.join(OUT, f"template_sf{sf:g}.parquet"),
    )
    print(f"template golden: {len(cols['image_id'])} rows")


def make_vw_golden(sf: float = 0.01) -> None:
    """Golden for roads_simplify_vw (r05 wave 44): the same VW SPEC
    with a FULL RESCAN over python lists per removal (vs the engine's
    linked prev/next arrays)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    A2_MIN = 1_000_000
    roads = FX.roads_records(sf)
    cols = {k: [] for k in ("road_id", "kind", "n_in", "n_kept",
                            "keep_mask", "removed_a2")}
    for r in roads:
        pts = [(int(np.floor(p["x"] * 1e5 + 0.5)),
                int(np.floor(p["y"] * 1e5 + 0.5))) for p in r["coords"]]
        idx = list(range(len(pts)))
        removed_sum = 0
        while len(idx) > 2:
            areas = []
            for j in range(1, len(idx) - 1):
                (ax, ay), (bx, by), (cx, cy) = (
                    pts[idx[j - 1]], pts[idx[j]], pts[idx[j + 1]]
                )
                areas.append((abs((bx - ax) * (cy - ay)
                                  - (cx - ax) * (by - ay)), idx[j], j))
            a_min = min(areas)
            if a_min[0] >= A2_MIN:
                break
            removed_sum += a_min[0]
            idx.pop(a_min[2])
        mask = 0
        for k in idx:
            mask |= 1 << k
        cols["road_id"].append(r["road_id"])
        cols["kind"].append(r["kind"])
        cols["n_in"].append(len(pts))
        cols["n_kept"].append(len(idx))
        cols["keep_mask"].append(mask)
        cols["removed_a2"].append(removed_sum)
    pq.write_table(
        pa.table({
            "road_id": pa.array(cols["road_id"], pa.int64()),
            "kind": cols["kind"],
            "n_in": pa.array(cols["n_in"], pa.int64()),
            "n_kept": pa.array(cols["n_kept"], pa.int64()),
            "keep_mask": pa.array(cols["keep_mask"], pa.int64()),
            "removed_a2": pa.array(cols["removed_a2"], pa.int64()),
        }),
        os.path.join(OUT, f"vw_sf{sf:g}.parquet"),
    )
    print(f"vw golden: {len(cols['road_id'])} roads")


def make_palette_golden(sf: float = 0.01, n_limit: int = 500) -> None:
    """Golden for image_palette_mediancut (r05 wave 45): the same
    median-cut SPEC over SCALAR python dicts and sorted lists (vs the
    engine's np.unique + lexsort + searchsorted)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    K = 8
    cols = {k: [] for k in ("image_id", "n_distinct", "n_boxes", "err",
                            "chk")}
    for i, image_id, fmt, lon, lat, w, h, px, half in _fixture_image_iter(
        sf, n_limit=n_limit, jpg="skip"
    ):
        counts: dict = {}
        for r, g, b in px.reshape(-1, 3):
            key = (int(r), int(g), int(b))
            counts[key] = counts.get(key, 0) + 1
        boxes = [sorted(counts.items())]
        while len(boxes) < K:
            best, best_n = -1, 0
            for j, box in enumerate(boxes):
                tot = sum(n for _, n in box)
                if len(box) > 1 and tot > best_n:
                    best, best_n = j, tot
            if best < 0:
                break
            box = boxes[best]
            mins = [min(c[ch] for c, _ in box) for ch in range(3)]
            maxs = [max(c[ch] for c, _ in box) for ch in range(3)]
            ranges = [maxs[ch] - mins[ch] for ch in range(3)]
            ch = ranges.index(max(ranges))
            box = sorted(box, key=lambda e: (e[0][ch], e[0]))
            tot = sum(n for _, n in box)
            half = (tot + 1) // 2
            cum = 0
            cut = len(box) - 2
            for j, (_, n) in enumerate(box):
                cum += n
                if cum >= half:
                    cut = min(j, len(box) - 2)
                    break
            boxes[best] = box[:cut + 1]
            boxes.append(box[cut + 1:])
        err = chk = 0
        for j, box in enumerate(boxes):
            tot = sum(n for _, n in box)
            mean = [sum(c[ch] * n for c, n in box) // tot
                    for ch in range(3)]
            for c, n in box:
                err += n * sum((c[ch] - mean[ch]) ** 2 for ch in range(3))
            chk += (j + 1) * (mean[0] * 65536 + mean[1] * 256 + mean[2])
        cols["image_id"].append(image_id)
        cols["n_distinct"].append(len(counts))
        cols["n_boxes"].append(len(boxes))
        cols["err"].append(err)
        cols["chk"].append(chk)
    pq.write_table(
        pa.table({k: (v if k == "image_id" else pa.array(v, pa.int64()))
                  for k, v in cols.items()}),
        os.path.join(OUT, f"palette_sf{sf:g}.parquet"),
    )
    print(f"palette golden: {len(cols['image_id'])} rows")
