"""DuckDB oracle SQL for the image queries (:mod:`sdg_engine.queries.image`)."""

from __future__ import annotations

import os

from ._common import fixture_paths


def _render_colormap_sql() -> str:
    """S6b rendered PNG: relational twin of the LUT render — level-6
    cell counts → bin → ramp literals → per-tile channel sums (the
    Spark side's sums come from DECODED png pixels)."""
    from ..harness import PX, PY
    from ..ops.payload import COLORMAP_RAMP
    from ..sqlgen import grid_index_expr

    lut = ", ".join(
        f"({i}, {r}, {g}, {b})" for i, (r, g, b) in enumerate(COLORMAP_RAMP)
    )
    return f"""
WITH pts AS (SELECT {grid_index_expr(PX, 6)} AS ix,
                    {grid_index_expr(PY, 6)} AS iy FROM orders),
cnts AS (SELECT ix, iy, COUNT(*) AS cnt FROM pts GROUP BY ix, iy),
binned AS (
  SELECT CAST(FLOOR(ix / 8) AS INT) AS tx, CAST(FLOOR(iy / 8) AS INT) AS ty,
         CAST(LEAST(FLOOR(cnt / 4), 7) AS INT) AS bin
  FROM cnts
),
lut(bin, r, g, b) AS (VALUES {lut})
SELECT tx, ty, CAST(COUNT(*) AS INT) AS n_covered,
       CAST(SUM(l.r) AS BIGINT) AS sum_r,
       CAST(SUM(l.g) AS BIGINT) AS sum_g,
       CAST(SUM(l.b) AS BIGINT) AS sum_b
FROM binned j JOIN lut l ON j.bin = l.bin
GROUP BY tx, ty
"""


ORACLES = {
    "image_render_colormap": _render_colormap_sql(),
}


def fixture_oracles() -> dict[str, str]:
    """Oracles that embed the absolute sf0.01 fixture and goldens paths.
    Built on call: building them at import would generate the fixture
    on every import."""
    fdir, roads, img, gdir = fixture_paths()
    golden = f"{gdir}/decode_stats_sf0.01.parquet"
    near_dup = f"""
WITH img AS (SELECT image_id, phash FROM read_parquet('{img}')
             WHERE image_id < 'img000000000400'),
bands AS (SELECT image_id, phash, u.band, (phash >> (8 * u.band)) & 255 AS sig
          FROM img, UNNEST(generate_series(0, 7)) AS u(band)),
cand AS (SELECT DISTINCT a.image_id AS id_a, b.image_id AS id_b,
                CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.sig = b.sig AND a.image_id < b.image_id)
SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 12
"""
    decode_stats = f"""
SELECT f.image_id, f.fmt, CAST(octet_length(f.bytes) AS INT) AS n_bytes,
       TRUE AS ok, g.mean_lum
FROM read_parquet('{img}') f
JOIN read_parquet('{golden}') g USING (image_id)
WHERE f.image_id < 'img000000000500'
"""
    thumb_golden = f"{gdir}/thumb_stats_sf0.01.parquet"
    # image_thumbnails: fmt metadata from the fixture parquet, thumb
    # mean_lum from the committed independent reshape-block-mean golden,
    # ok=TRUE asserted — a resize/decode regression flips the hash.
    thumbnails = f"""
SELECT f.image_id, f.fmt, 16 AS tw, 16 AS th, TRUE AS ok, g.mean_lum
FROM read_parquet('{img}') f
JOIN read_parquet('{thumb_golden}') g USING (image_id)
WHERE f.image_id < 'img000000000500'
"""
    # image_rai_summary (r04; was rows-only): aggregate the committed
    # INDEPENDENT per-image golden (generator pixels + scalar clip/burn
    # twins + transposed-scan chamfer + generator-side countries —
    # scripts/make_goldens.py) per country.  Integer-mils sums are exact
    # bigints on both engines; the only float ops are / and FLOOR on
    # identical inputs (gotcha-8-approved).
    rai_summary = f"""
SELECT country_code,
       COUNT(*) AS n_images,
       CAST(SUM(CASE WHEN pop_near_mils > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_near,
       CAST(SUM(pop_total_mils) AS BIGINT) / 1000.0 AS pop_total,
       CAST(SUM(pop_near_mils) AS BIGINT) / 1000.0 AS pop_near,
       FLOOR((CAST(SUM(pop_near_mils) AS BIGINT) / 1000.0)
             / (CAST(SUM(pop_total_mils) AS BIGINT) / 1000.0)
             * 1000000.0 + 0.5) / 1000000.0 AS rai
FROM read_parquet('{gdir}/rai_per_image_sf0.01.parquet')
GROUP BY country_code
"""
    # image_cost_distance (r04): the A2 non-uniform-friction surface,
    # certified by the independent per-image golden (Dijkstra-checked
    # recurrence, generator pixels).
    cost_distance = f"""
SELECT image_id, pop_near_mils, CAST(px_near AS INT) AS px_near
FROM read_parquet('{gdir}/cost_distance_sf0.01.parquet')
"""
    # image_warp_utm (r04): general-CRS raster warp, integer checksums
    # vs the generator-pixel golden.
    warp_utm = f"""
SELECT image_id, warp_sum, CAST(n_nonfill AS INT) AS n_nonfill
FROM read_parquet('{gdir}/warp_utm_sf0.01.parquet')
"""
    # multimodal audio/video (r04; was rows-only): the committed goldens
    # regenerate the clip/frame SPEC and reimplement the PCM16 quantize —
    # the engine WAV/rawvid codecs never touch the oracle side.
    audio_features = f"""
SELECT media_id, rms, zcr, peak, CAST(n_samples AS BIGINT) AS n_samples
FROM read_parquet('{gdir}/audio_features.parquet')
"""
    video_frames = f"""
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx, t_sec, mean_luma
FROM read_parquet('{gdir}/video_frames.parquet')
"""
    audio_spectral = f"""
SELECT media_id, centroid_hz, peak_hz, energy, CAST(n_bins AS INT) AS n_bins
FROM read_parquet('{gdir}/audio_spectral.parquet')
"""
    video_cuts = f"""
SELECT media_id, CAST(n_frames AS INT) AS n_frames,
       CAST(n_cuts AS INT) AS n_cuts, CAST(first_cut AS INT) AS first_cut
FROM read_parquet('{gdir}/video_cuts.parquet')
"""
    # image_hillshade: checksums from the committed clamp-indexed Horn
    # golden, restricted to the same harness subset/fmt filter as the
    # Spark side (fixture join keeps the filter load-bearing).
    hill = f"""
SELECT g.image_id, g.n_px, g.sum_shade, g.min_shade, g.max_shade
FROM read_parquet('{gdir}/hillshade_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
"""
    # image_sobel_edges: same policy/filter as hillshade, golden from
    # the clamp-indexed integer Sobel twin (all int64 — exact parity).
    sob = f"""
SELECT g.image_id, g.n_px, g.n_edges, g.sum_mag, g.max_mag
FROM read_parquet('{gdir}/sobel_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
"""
    # image_flow_d8: same policy/filter; golden from the stacked-argmax
    # + postorder-DFS accumulation twin (all int64 — exact parity).
    d8 = f"""
SELECT g.image_id, g.n_px, g.n_sinks, g.sum_acc, g.max_acc, g.chk
FROM read_parquet('{gdir}/flow_d8_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
"""
    # image_watershed / image_viewshed / image_pit_fill: same
    # policy/filter; goldens from algorithm-independent twins (chain
    # walking / max-slope rationals / Bellman fixpoint — see
    # scripts/make_goldens.py).  All int64 — exact parity.
    wsh = f"""
SELECT g.image_id, g.n_px, g.n_basins, g.largest_px, g.sum_sq, g.chk
FROM read_parquet('{gdir}/watershed_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
"""
    vsh = f"""
SELECT g.image_id, g.n_px, g.n_visible, g.sum_vis_lum, g.chk
FROM read_parquet('{gdir}/viewshed_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
"""
    pit = f"""
SELECT g.image_id, g.n_px, g.n_raised, g.sum_delta, g.chk
FROM read_parquet('{gdir}/pitfill_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
"""
    glcm = f"""
SELECT g.image_id, g.n_pairs, g.contrast, g.energy, g.homog_mils
FROM read_parquet('{gdir}/glcm_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
"""
    qt = f"""
SELECT g.image_id, g.n_px, g.n_leaves, g.max_depth, g.sum_range,
       g.sum_depth_px
FROM read_parquet('{gdir}/quadtree_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
"""
    # image_zonal_stats: per-country luminance stats from the decode
    # golden (pixels) x the rai golden (country assignment) — both
    # INDEPENDENT generator-side twins; mils snap before SUM makes the
    # per-zone fold integer-exact on both engines.
    zonal = f"""
WITH m AS (
  SELECT r.country_code,
         CAST(FLOOR(g.mean_lum * 1000.0 + 0.5) AS BIGINT) AS lum_mils
  FROM read_parquet('{gdir}/decode_stats_sf0.01.parquet') g
  JOIN read_parquet('{gdir}/rai_per_image_sf0.01.parquet') r USING (image_id)
  JOIN read_parquet('{img}') f USING (image_id)
  WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
)
SELECT country_code, COUNT(*) AS n_images,
       CAST(SUM(lum_mils) AS BIGINT) AS sum_lum_mils,
       MIN(lum_mils) AS min_lum_mils, MAX(lum_mils) AS max_lum_mils
FROM m GROUP BY country_code
"""
    return {
        "image_near_dup_pairs": near_dup,
        "image_decode_stats": decode_stats,
        "image_thumbnails": thumbnails,
        "image_rai_summary": rai_summary,
        "image_cost_distance": cost_distance,
        "image_warp_utm": warp_utm,
        "multimodal_audio_features": audio_features,
        "multimodal_video_frames": video_frames,
        "multimodal_audio_spectral": audio_spectral,
        "multimodal_video_cuts": video_cuts,
            "image_sobel_edges": sob,
            "image_flow_d8": d8,
            "image_watershed": wsh,
            "image_viewshed": vsh,
            "image_pit_fill": pit,
            "image_texture_glcm": glcm,
            "image_quadtree": qt,
            "image_slope_aspect": f"""
SELECT g.image_id, g.n_px, g.n_flat, g.hist_chk, g.n_steep, g.sum_s2
FROM read_parquet('{gdir}/slope_aspect_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
""",
            "image_strahler": f"""
SELECT g.image_id, g.n_px, g.max_order, g.sum_order, g.n_ge2, g.chk
FROM read_parquet('{gdir}/strahler_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
""",
            "image_hist_equalize": f"""
SELECT g.image_id, g.n_px, g.sum_eq, g.n_levels_out, g.max_eq, g.chk
FROM read_parquet('{gdir}/hist_equalize_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
""",
            "image_morphology": f"""
SELECT g.image_id, g.n_px, g.sum_erode, g.sum_dilate, g.n_edge, g.chk
FROM read_parquet('{gdir}/morphology_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
""",
            "image_hillshade": hill,
            "image_zonal_stats": zonal,
            "image_regions": f"""
SELECT g.image_id, g.n_regions, g.largest_px, g.n_fg
FROM read_parquet('{gdir}/regions_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
""",
            "multimodal_audio_stft": f"""
SELECT media_id, frame_idx, energy, centroid_hz
FROM read_parquet('{gdir}/audio_stft.parquet')
""",
            "image_contours": f"""
SELECT g.image_id, g.n_cells, g.n_crossed, g.n_segments, g.sum_case
FROM read_parquet('{gdir}/contours_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
""",
        # image_tpi_tri / image_flow_length: committed INDEPENDENT
        # goldens (generator pixels + np.ix_ gathers / memoized chain
        # walks — see scripts/make_goldens.py), restricted to the same
        # harness subset/fmt filter so the fixture join stays
        # load-bearing.  All int64 — exact parity.
        "image_tpi_tri": f"""
SELECT g.image_id, g.n_px, g.sum_tri, g.max_tri, g.n_ridge,
       g.n_valley, g.chk
FROM read_parquet('{gdir}/tpi_tri_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
""",
        "image_flow_length": f"""
SELECT g.image_id, g.n_px, g.n_sinks, g.sum_len, g.max_len, g.chk
FROM read_parquet('{gdir}/flow_length_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
""",
        "image_box_downscale": f"""
SELECT g.image_id, g.n_out, g.sum_ds, g.max_ds, g.min_ds, g.chk
FROM read_parquet('{gdir}/box_downscale_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
""",
        "image_median3": f"""
SELECT g.image_id, g.n_px, g.sum_med, g.n_changed, g.max_absdiff, g.chk
FROM read_parquet('{gdir}/median3_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
""",
        "multimodal_audio_pitch": f"""
SELECT media_id, lag, f0_hz, r_peak, n_lags
FROM read_parquet('{gdir}/audio_pitch.parquet')
""",
        "multimodal_video_motion": f"""
SELECT media_id, n_pairs, n_blocks, n_moving, sum_sad, sum_abs_mv, chk
FROM read_parquet('{gdir}/video_motion.parquet')
""",
        # the certified near-dup twin at the stricter hamming<=6 tier,
        # joined back to captions — runs verbatim on the same parquet
        "multimodal_caption_consistency": f"""
WITH img AS (SELECT image_id, phash, caption
             FROM read_parquet('{os.path.join(fdir, "images.parquet").replace("'", "''")}')
             WHERE image_id < 'img000000000400'),
bands AS (SELECT image_id, phash, u.band,
                 (phash >> (8 * u.band)) & 255 AS sig
          FROM img, UNNEST(generate_series(0, 7)) AS u(band)),
cand AS (SELECT DISTINCT a.image_id AS id_a, b.image_id AS id_b,
                CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.sig = b.sig
          AND a.image_id < b.image_id)
SELECT c.id_a, c.id_b, c.hamming,
       (ca.caption = cb.caption) AS same_caption
FROM cand c
JOIN img ca ON ca.image_id = c.id_a
JOIN img cb ON cb.image_id = c.id_b
WHERE c.hamming <= 6
""",
        "image_fft_sharpness": f"""
SELECT g.image_id, g.n_px, g.hf_ratio_micros, g.peak_u, g.peak_v
FROM read_parquet('{gdir}/fft_sharpness_sf0.01.parquet') g
JOIN read_parquet('{os.path.join(fdir, "images.parquet").replace("'", "''")}') f3
  USING (image_id)
WHERE f3.image_id < 'img000000000500' AND f3.fmt <> 'jpg'
""",
        "image_ssim_recon": f"""
SELECT g.image_id, g.n_px, g.sum_recon, g.ssim_micros, g.chk
FROM read_parquet('{gdir}/ssim_sf0.01.parquet') g
JOIN read_parquet('{os.path.join(fdir, "images.parquet").replace("'", "''")}') f4
  USING (image_id)
WHERE f4.image_id < 'img000000000500' AND f4.fmt <> 'jpg'
""",
        "image_edt": f"""
SELECT g.image_id, g.n_px, g.n_fg, g.sum_d2, g.max_d2, g.chk
FROM read_parquet('{gdir}/edt_sf0.01.parquet') g
JOIN read_parquet('{os.path.join(fdir, "images.parquet").replace("'", "''")}') f2
  USING (image_id)
WHERE f2.image_id < 'img000000000500' AND f2.fmt <> 'jpg'
""",
        "image_otsu": f"""
SELECT g.image_id, g.thr, g.n_fg, g.sum_fg, g.chk
FROM read_parquet('{gdir}/otsu_sf0.01.parquet') g
JOIN read_parquet('{os.path.join(fdir, "images.parquet").replace("'", "''")}') f
  USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
""",
        "image_affine_bilinear": f"""
SELECT g.image_id, g.n_sampled, g.sum_out, g.max_out, g.chk
FROM read_parquet('{gdir}/affine_sf0.01.parquet') g
JOIN read_parquet('{img}') f2 USING (image_id)
WHERE f2.image_id < 'img000000000500' AND f2.fmt <> 'jpg'
""",
        "image_canny_hysteresis": f"""
SELECT g.image_id, g.n_weak, g.n_strong, g.n_final, g.chk
FROM read_parquet('{gdir}/canny_sf0.01.parquet') g
JOIN read_parquet('{img}') f2 USING (image_id)
WHERE f2.image_id < 'img000000000500' AND f2.fmt <> 'jpg'
""",
        "image_hough_lines": f"""
SELECT g.image_id, g.n_edges, g.best_votes, g.best_theta, g.best_rho,
       g.chk
FROM read_parquet('{gdir}/hough_sf0.01.parquet') g
JOIN read_parquet('{img}') f2 USING (image_id)
WHERE f2.image_id < 'img000000000500' AND f2.fmt <> 'jpg'
""",
        "image_fast_corners": f"""
SELECT g.image_id, g.n_interior, g.n_corners, g.n_bright, g.n_dark,
       g.chk
FROM read_parquet('{gdir}/fast_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
""",
        "image_harris_corners": f"""
SELECT g.image_id, g.n_interior, g.n_corners, g.sum_rq, g.max_r, g.chk
FROM read_parquet('{gdir}/harris_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
""",
        "image_skeleton_zs": f"""
SELECT g.image_id, g.n_fg, g.n_skel, g.n_iters, g.chk
FROM read_parquet('{gdir}/skeleton_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
""",
        "image_lbp_texture": f"""
SELECT g.image_id, g.n_interior, g.n_uniform, g.sum_code, g.chk
FROM read_parquet('{gdir}/lbp_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
""",
        "image_canny_nms": f"""
SELECT g.image_id, g.n_raw, g.n_thin, g.chk
FROM read_parquet('{gdir}/canny_nms_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
""",
        "image_dither_fs": f"""
SELECT g.image_id, g.n_px, g.n_on, g.chk
FROM read_parquet('{gdir}/dither_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
""",
        "multimodal_audio_decimate": f"""
SELECT media_id, n_in, n_out, sum_abs, max_abs, chk
FROM read_parquet('{gdir}/audio_decimate.parquet')
""",
        "image_dog_blobs": f"""
SELECT g.image_id, g.n_core, g.n_bright, g.n_dark, g.sum_absdog, g.chk
FROM read_parquet('{gdir}/dog_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
""",
        "multimodal_audio_biquad": f"""
SELECT media_id, n, sum_abs_y, max_abs_y, y_last, chk
FROM read_parquet('{gdir}/audio_biquad.parquet')
""",
        "image_palette_mediancut": f"""
SELECT g.image_id, g.n_distinct, g.n_boxes, g.err, g.chk
FROM read_parquet('{gdir}/palette_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
""",
        "image_template_match": f"""
SELECT g.image_id, g.n_pos, g.best_ssd, g.best_row, g.best_col,
       g.ssd_chk
FROM read_parquet('{gdir}/template_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
""",
        "image_haar_energy": f"""
SELECT g.image_id, g.n_px, g.e_ll2, g.e_h1, g.e_v1, g.e_d1,
       g.e_h2, g.e_v2, g.e_d2
FROM read_parquet('{gdir}/haar_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
""",
        "image_seam_carve": f"""
SELECT g.image_id, g.seam_cost, g.top_col, g.bottom_col,
       g.sum_energy, g.chk
FROM read_parquet('{gdir}/seam_sf0.01.parquet') g
JOIN read_parquet('{img}') f USING (image_id)
WHERE f.image_id < 'img000000000500' AND f.fmt <> 'jpg'
""",
    }
