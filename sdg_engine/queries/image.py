"""Image, raster and audio/video queries over the sf0.01 image fixture:
decode, DEM and raster kernels, feature detectors and the multimodal
features.  Most compare against committed goldens produced by
independent twins (scripts/make_goldens.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..ops import payload as PL
from ._common import _fixture_images

# Golden subsets are bounded by image key: an unordered LIMIT may pick
# a different subset across partitionings.
_FIRST_500 = "img000000000500"


def _golden_tiles(spark):
    """The subset every golden-backed per-tile query reads: the first
    500 tiles of the sf0.01 image fixture by key, jpg excluded.  sf0.01
    whatever the query's ``sf_dir`` is, because the DuckDB oracles and
    the committed goldens embed that fixture.  No jpg, because a lossy
    decode has no independent twin (the decode-stats NULL policy); jpg
    pixel fidelity is PSNR-gated in tests/test_jpeg.py."""
    images, _roads = _fixture_images(spark)
    return images.filter(
        (F.col("image_id") < _FIRST_500) & (F.col("fmt") != "jpg")
    )


def image_rai_summary(spark, sf_dir):
    """Flagship over the FULL IMAGES fixture: geocode → country →
    burn/cost-distance → per-country RAI.  ORACLE-CHECKED (r04; was
    rows-only): per-image population sums are snapped to integer mils —
    ``FLOOR(pop·1000 + 0.5)``, pure IEEE ops — and aggregated as BIGINT
    sums, so the result is independent of Spark's nondeterministic
    float-sum order and the DuckDB oracle aggregates the committed
    INDEPENDENT per-image golden (scripts/make_goldens.py:
    rai_per_image_twin — generator pixels, brute-force candidate segs,
    scalar clip/burn twins, transposed-scan chamfer, generator-side
    country assignment) to the identical rows.  Any regression in the
    halo exchange, spatial join, burn, distance transform, masking, PIP
    country assignment, or the codecs flips a per-image mils value and
    fails the driver's value hash.

    Safe in the driver's default-1g session because the burn is
    MAP-ONLY (road cover → broadcast cell-keyed dict; image bytes never
    shuffle, peak task memory is one Arrow batch), so no row cap is
    needed here."""
    from ..jobs.rai import rai_summaries

    images, roads = _fixture_images(spark)
    per_image, _per_country = rai_summaries(spark, images, roads)
    mils = per_image.select(
        "country_code",
        F.expr("CAST(FLOOR(pop_total * 1000 + 0.5) AS BIGINT)").alias("pt"),
        F.expr("CAST(FLOOR(pop_near * 1000 + 0.5) AS BIGINT)").alias("pn"),
    )
    agg = mils.groupBy("country_code").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum(F.when(F.col("pn") > 0, 1).otherwise(0)).alias("n_near"),
        (F.sum("pt") / F.lit(1000.0)).alias("pop_total"),
        (F.sum("pn") / F.lit(1000.0)).alias("pop_near"),
    )
    return agg.select(
        "country_code", "n_images", "n_near", "pop_total", "pop_near",
        (F.expr("FLOOR(pop_near / pop_total * 1000000.0 + 0.5)")
         / F.lit(1000000.0)).alias("rai"),
    )


def image_cost_distance(spark, sf_dir):
    """A2 FULL — cost-distance over a NON-UNIFORM friction surface
    (r04): per-tile accumulated cost from the burned road mask with
    friction f = 1 + lum/255 derived from the tile's own pixels
    (ops/raster.weighted_cost_batch — iterated weighted pushbroom
    sweeps; reduces bit-for-bit to the 3-4 chamfer at f≡1, certified
    against brute-force Dijkstra in tests).  ORACLE-CHECKED against the
    committed independent per-image golden (scripts/make_goldens.py:
    cost_distance_per_image_twin); integer-mils / pixel-count outputs
    make the hash float-order-proof."""
    from ..ops import raster as RS
    from ..ops import spatial as SP

    images, roads = _fixture_images(spark)
    subset = images.filter(F.col("image_id") < "img000000002000")
    geo = SP.with_geo(subset)
    tiles = RS.burn_cost_summaries(
        geo.select("image_id", "lon", "lat", "bytes", "fmt", "w", "h",
                   "fp_xmin", "fp_ymin", "fp_xmax", "fp_ymax"),
        SP.road_segments(roads),
        cutoff_m=250.0,
        friction_from_lum=True,
    )
    return tiles.select(
        "image_id",
        F.expr("CAST(FLOOR(pop_near * 1000 + 0.5) AS BIGINT)")
        .alias("pop_near_mils"),
        "px_near",
    )


def image_warp_utm(spark, sf_dir):
    """X6 GENERAL-CRS reprojection surface (r04): every tile is decoded
    and WARPED from its plate-carrée footprint onto a regular UTM
    zone-31 grid (crs.warp_tile — ellipsoidal Transverse Mercator, the
    projection behind every UTM EPSG code; nearest-neighbour, the
    GeoTrellis tile.reproject analogue).  Integer checksums make the
    result hash-stable; ORACLE-CHECKED against a committed golden from
    generator pixels."""
    from ..ops import spatial as SP

    return PL.warp_checksums(SP.with_geo(_golden_tiles(spark)),
                             "UTM:31")


def image_decode_stats(spark, sf_dir):
    """X1 decode stats, ORACLE-CHECKED (r03; was rows-only): every image
    is REALLY decoded (the ``ok`` flag is load-bearing for all five
    formats including jpg — a decode regression flips it and fails the
    hash), and ``mean_lum`` is compared against a committed golden
    computed by an INDEPENDENT numpy path (scripts/make_goldens.py:
    generator pixels + a reimplemented qnt quantize twin, never the
    engine codecs).  jpg rows emit NULL mean_lum — no independent JPEG
    decoder can exist in this container (that's why jpeg.py was
    written); their pixel fidelity is gated ≥40 dB in tests/test_jpeg.py.
    min/max pixel stats stay pytest-pinned (test_decode_stats_all_ok).
    """
    images, _roads = _fixture_images(spark)
    subset = images.filter(F.col("image_id") < _FIRST_500)
    stats = PL.decode_stats(subset)
    meta = subset.select(
        "image_id", "fmt", F.length("bytes").cast("int").alias("n_bytes")
    )
    return meta.join(stats, "image_id").select(
        "image_id",
        "fmt",
        "n_bytes",
        "ok",
        F.when(F.col("fmt") != "jpg", F.col("mean_lum")).alias("mean_lum"),
    )


def image_thumbnails(spark, sf_dir):
    """X1 resize surface, ORACLE-CHECKED: every image really decodes and
    box-mean-resizes to a 16×16 PNG thumb (the ``ok`` flag is
    load-bearing); thumb mean luminance is compared to a committed
    golden from an INDEPENDENT twin (scripts/make_goldens.py: generator
    pixels + reshape block means — block sizes are powers of two so the
    means are float64-exact on both paths).  jpg rows emit NULL
    mean_lum (lossy decode; PSNR-gated in tests/test_jpeg.py).  The
    thumb bytes themselves are pinned in tests/test_codecs.py-style
    invariants (test_pipeline_ops)."""
    images, _roads = _fixture_images(spark)
    subset = images.filter(F.col("image_id") < _FIRST_500)
    th = PL.thumbnails(subset, 16, 16)
    meta = subset.select("image_id", "fmt")
    return meta.join(th, "image_id").select(
        "image_id",
        "fmt",
        "tw",
        "th",
        "ok",
        F.when(F.col("fmt") != "jpg", F.col("mean_lum")).alias("mean_lum"),
    )


def image_near_dup_pairs(spark, sf_dir):
    """X4 near-dup pairs over the STORED phash column, ORACLE-CHECKED
    (r03; was rows-only): banded LSH (8×8-bit bands) + exact
    ``bit_count(xor)`` hamming — pure relational over the binding
    ``phash int64`` input column, so DuckDB reruns it verbatim on the
    same fixture parquet.  The other half of X4 — recomputing phash
    from decoded bytes through a lossy transcode — cannot be expressed
    relationally and stays pinned in
    tests/test_payload_lineage_skew.py::test_phash_near_dup_pairs."""
    images, _roads = _fixture_images(spark)
    subset = images.filter(F.col("image_id") < "img000000000400")
    return PL.phash_near_dup_pairs(subset, max_hamming=12)


def multimodal_audio_features(spark, sf_dir):
    """Audio features over REAL PCM16 WAV bytes (from-scratch RIFF
    codec — codecs.encode_wav/decode_wav; rows-only here, content
    pinned bit-exactly against a numpy oracle in tests)."""
    from ..ops.multimodal import audio_features, synth_audio_table

    return audio_features(synth_audio_table(spark, 64))


def multimodal_audio_spectral(spark, sf_dir):
    """Spectral feature extraction over REAL WAV bytes (r04): rfft
    magnitude → centroid/peak/energy, oracle-checked against the
    independent spec-twin golden (same numpy FFT on the regenerated
    waveform — the WAV container round-trip is what the engine side
    adds and the oracle certifies)."""
    from ..ops.multimodal import audio_spectral_features, synth_audio_table

    return audio_spectral_features(synth_audio_table(spark, 64))


def multimodal_video_cuts(spark, sf_dir):
    """Scene-cut detection over REAL rawvid bytes (r04): mean-luma jump
    threshold per frame — the keyframe-selection primitive;
    oracle-checked against the independent spec-twin golden (integer
    cut counts/indices)."""
    from ..ops.multimodal import synth_video_table, video_scene_cuts

    return video_scene_cuts(synth_video_table(spark, 32))


def image_render_colormap(spark, sf_dir):
    """S6b rendered-PNG sink (r05, VERDICT item 4): the point-density
    layer at level 6, binned through the 8-stop COLORMAP_RAMP LUT and
    rendered to one 8×8-pixel PNG per level-3 tile (ops.payload.
    render_colormap_png).  The emitted channel sums come from DECODING
    each tile's png, so every row certifies the encode→decode round
    trip; the DuckDB oracle recomputes n_covered and the sums from the
    relational cell counts joined to the same LUT literals — integers
    end-to-end."""
    from ..harness import points_df
    from ..ops import spatial as SP
    from ..ops.payload import render_colormap_png

    pts = SP.with_point_cell(points_df(spark, sf_dir), 6, keep_idx=True)
    cells = pts.groupBy("cell_id_ix", "cell_id_iy").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    binned = cells.select(
        F.expr("CAST(FLOOR(cell_id_ix / 8) AS INT)").alias("tx"),
        F.expr("CAST(FLOOR(cell_id_iy / 8) AS INT)").alias("ty"),
        F.expr("CAST(cell_id_ix - FLOOR(cell_id_ix / 8) * 8 AS INT)").alias("px"),
        F.expr("CAST(cell_id_iy - FLOOR(cell_id_iy / 8) * 8 AS INT)").alias("py"),
        F.expr("CAST(LEAST(FLOOR(cnt / 4), 7) AS INT)").alias("bin"),
    )
    tiles = render_colormap_png(binned, tile_px=8)
    return tiles.select("tx", "ty", "n_covered", "sum_r", "sum_g", "sum_b")


def multimodal_video_frames(spark, sf_dir):
    """Frame sampling over REAL decodable rawvid bytes (from-scratch
    container; rows-only here, frame means pinned bit-exactly against a
    numpy oracle in tests)."""
    from ..ops.multimodal import synth_video_table, video_frame_sample

    return video_frame_sample(synth_video_table(spark, 32))


def image_hillshade(spark, sf_dir):
    """Horn hillshade over the image tiles (luminance-as-elevation):
    decode -> 3x3 focal shade -> integer checksums per image (the
    classic GeoTrellis focal op re-expressed as a map-only Spark
    stage).  Oracle: committed INDEPENDENT golden (generator pixels +
    clamp-indexed Horn twin)."""
    return PL.hillshade_stats(_golden_tiles(spark))


def image_zonal_stats(spark, sf_dir):
    """ZONAL STATISTICS (GeoTrellis polygonal-summary analogue): decode
    every golden-subset tile, assign its footprint center to a country
    via the two-stage PIP (J2), and aggregate per-zone luminance stats.

    Cross-engine exactness: per-image mean_lum is snapped to integer
    mils (FLOOR(x*1000 + 0.5), pure IEEE ops on bit-identical doubles)
    BEFORE the per-zone SUM, so Spark's float-sum order can't leak into
    the hash.  Oracle: decode-stats golden (independent generator
    pixels) joined to the rai per-image golden (independent
    generator-side country assignment) — a regression in decode, PIP,
    or the join flips a zone sum.  Plan: map-only decode +
    broadcast-dim PIP + one tiny zone agg — no fact-table-wide exchange
    at any scale.
    """
    from .. import fixtures as FX
    from ..ops import spatial as SP

    sel = _golden_tiles(spark)
    cc = SP.assign_countries(SP.with_geo(sel), FX.get_country_rings(), level=9)
    stats = PL.decode_stats(sel)
    mils = "CAST(FLOOR(mean_lum * 1000.0 + 0.5) AS BIGINT)"
    return (
        cc.select("image_id", "country_code")
        .join(stats, "image_id")
        .selectExpr("country_code", f"{mils} AS lum_mils")
        .groupBy("country_code")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum("lum_mils").alias("sum_lum_mils"),
            F.min("lum_mils").alias("min_lum_mils"),
            F.max("lum_mils").alias("max_lum_mils"),
        )
    )


def image_contours(spark, sf_dir):
    """Marching-squares contour stats at iso-luminance 128 per image
    (the raster->vector contouring op): decode -> case grid -> integer
    segment/case sums.  Oracle: committed independent golden (generator
    pixels + explicit 16-entry LUT twin)."""
    return PL.contour_stats(_golden_tiles(spark))


def image_regions(spark, sf_dir):
    """Connected-region stats of the iso-128 mask per image (the
    region-group / polygonize precursor): scan-line union-find inside
    a map-only stage.  Oracle: committed INDEPENDENT flood-fill golden."""
    from ..ops.raster import region_stats

    return region_stats(_golden_tiles(spark))


def multimodal_audio_stft(spark, sf_dir):
    """STFT spectrogram frames over the REAL-WAV audio fixture: per
    (clip, frame) energy + spectral centroid (256/128 framing).
    Oracle: committed independent spec-twin golden (regenerated
    waveform, reimplemented PCM16, same framing)."""
    from ..ops.multimodal import audio_stft_frames, synth_audio_table

    return audio_stft_frames(synth_audio_table(spark, 64))


def multimodal_audio_pitch(spark, sf_dir):
    """f0 PITCH estimate over REAL WAV bytes via exact integer
    autocorrelation — the audio-curation signal next to RMS/ZCR and
    the spectral centroid; oracle-checked against the committed
    INDEPENDENT golden (SPEC-regenerated waveform + scalar python-int
    autocorrelation)."""
    from ..ops.multimodal import audio_pitch_autocorr, synth_audio_table

    return audio_pitch_autocorr(synth_audio_table(spark, 64))


def multimodal_video_motion(spark, sf_dir):
    """BLOCK-MATCHING MOTION VECTORS over real rawvid bytes — the
    static-vs-dynamic video-curation signal (integer SAD argmin,
    deterministic lexicographic tie).  Oracle: committed INDEPENDENT
    golden (SPEC-regenerated frames + scalar per-block matching)."""
    from ..ops.multimodal import synth_video_table, video_motion_blocks

    return video_motion_blocks(synth_video_table(spark, 32))


def multimodal_caption_consistency(spark, sf_dir):
    """CROSS-MODAL CONSISTENCY QA: image pairs that are perceptual
    near-dups (phash LSH bands + exact hamming <= 6 — the certified
    image_near_dup_pairs machinery at a stricter tier) but whose
    CAPTIONS disagree — the mislabeled-pair detector an image+caption
    curation pipeline runs before training.  Pure relational over the
    binding (phash, caption) columns, so the oracle reruns it verbatim;
    emits the pairs with their hamming and the agreement flag."""
    images, _roads = _fixture_images(spark)
    subset = images.filter(F.col("image_id") < "img000000000400")
    pairs = PL.phash_near_dup_pairs(subset, max_hamming=6)
    caps = subset.select("image_id", "caption")
    return (
        pairs.join(
            caps.selectExpr("image_id AS id_a", "caption AS cap_a"), "id_a"
        )
        .join(
            caps.selectExpr("image_id AS id_b", "caption AS cap_b"), "id_b"
        )
        .selectExpr(
            "id_a", "id_b", "hamming",
            "CAST(cap_a = cap_b AS BOOLEAN) AS same_caption",
        )
    )


def multimodal_audio_decimate(spark, sf_dir):
    """SAMPLE-RATE REDUCTION (decimate-by-2 through the classic 32-sum
    half-band FIR, all-integer with floor division) over the REAL-WAV
    audio fixture — the resample primitive of audio ingest pipelines.
    Engine: strided numpy slices per tap over the decoded channel-0
    PCM; golden: regenerated waveform + reimplemented PCM16 + scalar
    FIR loop (the audio-golden convention)."""
    from ..ops.multimodal import audio_decimate_stats, synth_audio_table

    return audio_decimate_stats(synth_audio_table(spark, 64))


def multimodal_audio_biquad(spark, sf_dir):
    """FIXED-POINT BIQUAD IIR LOW-PASS over the real-WAV fixture — the
    FEEDBACK filter completing the audio-DSP family next to the
    half-band FIR (feed-forward), STFT, pitch and spectral ops: Q14
    integer state, floor division per sample, channel-0 PCM16.  The
    feed-forward taps are vectorized numpy; only the 2-pole recursion
    loops (IIR is inherently sequential per clip, parallel across
    clips — the dither/seam discipline).  Golden: regenerated waveform
    + reimplemented PCM16 + fully scalar filter loop (the
    audio-golden convention)."""
    from ..ops.multimodal import audio_biquad_stats, synth_audio_table

    return audio_biquad_stats(synth_audio_table(spark, 64))


def image_palette_mediancut(spark, sf_dir):
    """MEDIAN-CUT PALETTE EXTRACTION — the dominant-color primitive of
    image curation (and the classic GIF/PNG8 quantizer), fully
    deterministic: split the box with the most pixels (tie: earliest
    created), along its widest channel (tie order R,G,B), at the
    median pixel of the channel-sorted distinct colors (lower half
    inclusive), to 8 boxes; palette entry = componentwise floor mean.
    All integer; error = SSD of each pixel to ITS box's mean.  Golden:
    the same SPEC over scalar python dicts (vs the engine's sorted
    numpy distinct-color arrays)."""
    return PL.palette_mediancut_stats(_golden_tiles(spark))


# The per-image integer kernel queries, one row each: query name ->
# (ops.payload kernel, output fields after image_id).  Each runs its
# kernel through _int_terrain_op over _golden_tiles (one map-only
# MapInPandas), and its docstring is the kernel's, which names the
# golden twin it is checked against.
_KERNELS = {
    "image_slope_aspect": (
        PL.slope_aspect_kernel,
        "n_px int, n_flat bigint, hist_chk bigint, n_steep bigint, "
        "sum_s2 bigint",
    ),
    "image_strahler": (
        PL.strahler_stats_kernel,
        "n_px int, max_order bigint, sum_order bigint, n_ge2 bigint, "
        "chk bigint",
    ),
    "image_hist_equalize": (
        PL.hist_equalize_kernel,
        "n_px int, sum_eq bigint, n_levels_out bigint, max_eq bigint, "
        "chk bigint",
    ),
    "image_morphology": (
        PL.morphology_kernel,
        "n_px int, sum_erode bigint, sum_dilate bigint, n_edge bigint, "
        "chk bigint",
    ),
    "image_texture_glcm": (
        PL.glcm_features,
        "n_pairs int, contrast bigint, energy bigint, homog_mils bigint",
    ),
    "image_quadtree": (
        PL.quadtree_stats_kernel,
        "n_px int, n_leaves int, max_depth int, sum_range bigint, "
        "sum_depth_px bigint",
    ),
    "image_sobel_edges": (
        PL.sobel_edge_kernel,
        "n_px int, n_edges int, sum_mag bigint, max_mag bigint",
    ),
    "image_flow_d8": (
        PL.d8_flow_kernel,
        "n_px int, n_sinks int, sum_acc bigint, max_acc bigint, chk bigint",
    ),
    "image_watershed": (
        PL.watershed_stats_kernel,
        "n_px int, n_basins int, largest_px int, sum_sq bigint, chk bigint",
    ),
    "image_viewshed": (
        PL.viewshed_stats_kernel,
        "n_px int, n_visible int, sum_vis_lum bigint, chk bigint",
    ),
    "image_pit_fill": (
        PL.pit_fill_stats_kernel,
        "n_px int, n_raised int, sum_delta bigint, chk bigint",
    ),
    "image_tpi_tri": (
        PL.tpi_tri_kernel,
        "n_px int, sum_tri bigint, max_tri bigint, n_ridge bigint, "
        "n_valley bigint, chk bigint",
    ),
    "image_flow_length": (
        PL.flow_length_kernel,
        "n_px int, n_sinks int, sum_len bigint, max_len bigint, chk bigint",
    ),
    "image_box_downscale": (
        PL.box_downscale_kernel,
        "n_out int, sum_ds bigint, max_ds bigint, min_ds bigint, chk bigint",
    ),
    "image_median3": (
        PL.median3_kernel,
        "n_px int, sum_med bigint, n_changed bigint, max_absdiff bigint, "
        "chk bigint",
    ),
    "image_otsu": (
        PL.otsu_kernel,
        "thr int, n_fg bigint, sum_fg bigint, chk bigint",
    ),
    "image_edt": (
        PL.edt_kernel,
        "n_px int, n_fg bigint, sum_d2 bigint, max_d2 bigint, chk bigint",
    ),
    "image_fft_sharpness": (
        PL.fft_sharpness_kernel,
        "n_px int, hf_ratio_micros bigint, peak_u int, peak_v int",
    ),
    "image_ssim_recon": (
        PL.ssim_recon_kernel,
        "n_px int, sum_recon bigint, ssim_micros bigint, chk bigint",
    ),
    "image_fast_corners": (
        PL.fast_corner_kernel,
        "n_interior int, n_corners bigint, n_bright bigint, n_dark bigint, "
        "chk bigint",
    ),
    "image_affine_bilinear": (
        PL.affine_bilinear_kernel,
        "n_sampled bigint, sum_out bigint, max_out bigint, chk bigint",
    ),
    "image_hough_lines": (
        PL.hough_lines_kernel,
        "n_edges bigint, best_votes bigint, best_theta bigint, "
        "best_rho bigint, chk bigint",
    ),
    "image_canny_hysteresis": (
        PL.canny_hysteresis_kernel,
        "n_weak bigint, n_strong bigint, n_final bigint, chk bigint",
    ),
    "image_harris_corners": (
        PL.harris_corner_kernel,
        "n_interior bigint, n_corners bigint, sum_rq bigint, max_r bigint, "
        "chk bigint",
    ),
    "image_skeleton_zs": (
        PL.zhang_suen_kernel,
        "n_fg bigint, n_skel bigint, n_iters bigint, chk bigint",
    ),
    "image_lbp_texture": (
        PL.lbp_texture_kernel,
        "n_interior bigint, n_uniform bigint, sum_code bigint, chk bigint",
    ),
    "image_canny_nms": (
        PL.canny_nms_kernel,
        "n_raw bigint, n_thin bigint, chk bigint",
    ),
    "image_dither_fs": (
        PL.dither_fs_kernel,
        "n_px bigint, n_on bigint, chk bigint",
    ),
    "image_dog_blobs": (
        PL.dog_blob_kernel,
        "n_core bigint, n_bright bigint, n_dark bigint, sum_absdog bigint, "
        "chk bigint",
    ),
    "image_template_match": (
        PL.template_match_kernel,
        "n_pos bigint, best_ssd bigint, best_row bigint, best_col bigint, "
        "ssd_chk bigint",
    ),
    "image_haar_energy": (
        PL.haar_energy_kernel,
        "n_px bigint, e_ll2 bigint, e_h1 bigint, e_v1 bigint, e_d1 bigint, "
        "e_h2 bigint, e_v2 bigint, e_d2 bigint",
    ),
    "image_seam_carve": (
        PL.seam_carve_kernel,
        "seam_cost bigint, top_col bigint, bottom_col bigint, "
        "sum_energy bigint, chk bigint",
    ),
}


def _kernel_query(name, kernel, schema):
    def build(spark, sf_dir):
        return PL._int_terrain_op(_golden_tiles(spark), kernel,
                                  schema)

    build.__name__ = build.__qualname__ = name
    build.__doc__ = kernel.__doc__
    return build


QUERIES = {
    name: _kernel_query(name, *_KERNELS[name]) if name in _KERNELS
    else globals()[name]
    for name in (
        "multimodal_audio_features",
        "multimodal_video_frames",
        "multimodal_audio_spectral",
        "multimodal_video_cuts",
        "image_render_colormap",
        "image_rai_summary",
        "image_cost_distance",
        "image_warp_utm",
        "image_decode_stats",
        "image_near_dup_pairs",
        "image_thumbnails",
        "image_slope_aspect",
        "image_strahler",
        "image_hist_equalize",
        "image_morphology",
        "image_texture_glcm",
        "image_quadtree",
        "image_sobel_edges",
        "image_flow_d8",
        "image_watershed",
        "image_viewshed",
        "image_pit_fill",
        "image_hillshade",
        "image_zonal_stats",
        "image_contours",
        "image_regions",
        "multimodal_audio_stft",
        "image_tpi_tri",
        "image_flow_length",
        "image_box_downscale",
        "image_median3",
        "image_otsu",
        "multimodal_audio_pitch",
        "multimodal_video_motion",
        "image_edt",
        "image_fft_sharpness",
        "multimodal_caption_consistency",
        "image_ssim_recon",
        "image_fast_corners",
        "image_affine_bilinear",
        "image_hough_lines",
        "image_canny_hysteresis",
        "image_harris_corners",
        "image_skeleton_zs",
        "image_lbp_texture",
        "image_canny_nms",
        "image_dither_fs",
        "multimodal_audio_decimate",
        "image_dog_blobs",
        "image_palette_mediancut",
        "image_template_match",
        "multimodal_audio_biquad",
        "image_haar_energy",
        "image_seam_carve",
    )
}
