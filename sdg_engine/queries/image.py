"""Image, raster and audio/video queries over the sf0.01 image fixture:
decode, DEM and raster kernels, feature detectors and the multimodal
features.  Most compare against committed goldens produced by
independent twins (scripts/make_goldens.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ._common import _fixture_images


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

    Safe in the driver's default-1g session because rai_summaries'
    auto strategy picks the MAP-ONLY broadcast burn (road cover →
    cell-keyed dict; image bytes never shuffle, peak task memory is one
    Arrow batch) — the old cogroup path loaded whole cell groups and
    needed a limit(2000) cap here."""
    from ..jobs.rai import rai_summaries

    images, roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
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

    images, roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
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
    generator pixels (jpg rows excluded — lossy, engine-decoded; their
    pixel fidelity is PSNR-gated separately)."""
    from ..ops import payload as PL
    from ..ops import spatial as SP

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    subset = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return PL.warp_checksums(SP.with_geo(subset), "UTM:31")


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
    from ..ops import payload as PL

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    # deterministic subset by key (an unordered LIMIT may pick a
    # different subset across rounds/partitionings)
    subset = images.filter(F.col("image_id") < "img000000000500")
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
    from ..ops import payload as PL

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    subset = images.filter(F.col("image_id") < "img000000000500")
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
    from ..ops import payload as PL

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
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
    stage).  jpg rows excluded (lossy decode has no independent twin —
    decode-stats NULL policy); harness-bounded to the first 500 images
    like the other golden-backed image queries.  Oracle: committed
    INDEPENDENT golden (generator pixels + clamp-indexed Horn twin).
    """
    from ..ops.payload import hillshade_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return hillshade_stats(sel)


def image_sobel_edges(spark, sf_dir):
    """SOBEL EDGE DENSITY per image — the sharpness/blur curation
    signal (blurry or flat images score low and get filtered before
    training).  Decode -> integer BT.601 luma -> 3x3 Sobel L1
    magnitude -> exact-BIGINT checksums; map-only like the other
    decode-path queries.  jpg rows excluded (lossy decode has no
    independent twin); harness-bounded to the first 500 images.
    Oracle: committed INDEPENDENT golden (generator pixels +
    clamp-indexed Sobel twin — all integer, so parity is trivial).
    """
    from ..ops.payload import sobel_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return sobel_stats(sel)


def image_flow_d8(spark, sf_dir):
    """D8 FLOW-DIRECTION + ACCUMULATION over the image tiles
    (luminance-as-elevation) — the hydrology terrain op (GeoTrellis
    focal flow/accumulation analogue) next to hillshade: steepest
    descent among the 8 neighbors (clamp borders, strict drop, FIRST
    winner), then acc = 1 + sum(upstream) via ONE high-to-low
    elevation sweep (strict descent makes the flow field a DAG).
    Map-only mapInPandas — payload bytes never shuffle; every output
    is an exact int64.  jpg excluded / first-500 bound like the other
    golden-backed image queries.  Oracle: committed INDEPENDENT golden
    (generator pixels + argmax-stacked targets + memoized postorder
    DFS — a different accumulation algorithm than the engine sweep).
    """
    from ..ops.payload import d8_flow_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return d8_flow_stats(sel)


def image_watershed(spark, sf_dir):
    """WATERSHED BASIN labeling over the image tiles — partition every
    DEM into its D8 drainage basins (each cell labeled with the sink
    its steepest-descent path terminates at).  Engine resolves labels
    by vectorized POINTER JUMPING (O(log diameter) numpy rounds);
    map-only mapInPandas, all-int64 outputs.  jpg excluded /
    first-500 bound like the other golden-backed image queries.
    Oracle: committed INDEPENDENT golden (generator pixels +
    stacked-argmax targets + memoized scalar chain walking).
    """
    from ..ops.payload import watershed_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return watershed_stats(sel)


def image_viewshed(spark, sf_dir):
    """VIEWSHED from the center cell (GeoTrellis viewshed analogue,
    luminance-as-elevation): a target is visible iff every exact
    integer-DDA intermediate sample along the ray subtends a strictly
    smaller slope (cross-multiplied rationals — no floats anywhere).
    Engine: vectorized any-violation sweep over ray steps; map-only.
    Oracle: committed INDEPENDENT golden (same SPEC, visibility
    reduced via running max-slope rationals instead).
    """
    from ..ops.payload import viewshed_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return viewshed_stats(sel)


def image_pit_fill(spark, sf_dir):
    """PRIORITY-FLOOD depression filling (the DEM-conditioning pass
    hydrology pipelines run before flow routing): filled(c) is the
    unique minimax fixpoint max(elev, min over border-reaching paths
    of the path max) — engine settles cells once each off a min-heap
    seeded with the border ring (Barnes et al. 2014 recipe); map-only,
    all-int64.  Oracle: committed INDEPENDENT golden (the same
    fixpoint iterated as a shifted-view Bellman recurrence).
    """
    from ..ops.payload import pit_fill_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return pit_fill_stats(sel)


def image_zonal_stats(spark, sf_dir):
    """ZONAL STATISTICS (GeoTrellis polygonal-summary analogue): decode
    every harness image, assign its footprint center to a country via
    the two-stage PIP (J2), and aggregate per-zone luminance stats.

    Cross-engine exactness: per-image mean_lum is snapped to integer
    mils (FLOOR(x*1000 + 0.5), pure IEEE ops on bit-identical doubles)
    BEFORE the per-zone SUM, so Spark's float-sum order can't leak into
    the hash.  Oracle: decode-stats golden (independent generator
    pixels) joined to the rai per-image golden (independent
    generator-side country assignment) — a regression in decode, PIP,
    or the join flips a zone sum.  jpg excluded (decode golden NULLs).
    Plan: map-only decode + broadcast-dim PIP + one tiny zone agg — no
    fact-table-wide exchange at any scale.
    """
    from .. import fixtures as FX
    from ..ops import payload as PL
    from ..ops import spatial as SP

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
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
    segment/case sums.  jpg excluded, harness-bounded to 500 images;
    oracle: committed independent golden (generator pixels + explicit
    16-entry LUT twin)."""
    from ..ops.payload import contour_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return contour_stats(sel)


def image_regions(spark, sf_dir):
    """Connected-region stats of the iso-128 mask per image (the
    region-group / polygonize precursor): scan-line union-find inside
    a map-only stage.  Oracle: committed INDEPENDENT flood-fill golden.
    jpg excluded, 500-image harness subset."""
    from ..ops.raster import region_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return region_stats(sel)


def multimodal_audio_stft(spark, sf_dir):
    """STFT spectrogram frames over the REAL-WAV audio fixture: per
    (clip, frame) energy + spectral centroid (256/128 framing).
    Oracle: committed independent spec-twin golden (regenerated
    waveform, reimplemented PCM16, same framing)."""
    from ..ops.multimodal import audio_stft_frames, synth_audio_table

    return audio_stft_frames(synth_audio_table(spark, 64))


def image_texture_glcm(spark, sf_dir):
    """GLCM TEXTURE features (Haralick contrast / energy /
    homogeneity) — the texture-curation signal separating flat or
    synthetic images from natural ones: 16-level quantized luma,
    unnormalized co-occurrence over the right+down offsets, integer
    features only (homogeneity uses per-cell integer DIV by
    1+(i-j)^2, never a float fold).  Map-only like the other decode
    queries.  Oracle: committed INDEPENDENT golden (scatter-add
    matrix twin vs the engine's flat bincount)."""
    from ..ops.payload import glcm_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return glcm_stats(sel)


def image_quadtree(spark, sf_dir):
    """QUADTREE homogeneous-block compression stats — the engine's
    spatial quadtree family adapted to CONTENT (GeoTrellis-world:
    pyramid/quad decomposition): a block is a leaf iff its luma range
    <= 8000, else it splits in 4.  Map-only, all-integer.  Oracle:
    committed INDEPENDENT golden — leaves selected BOTTOM-UP on
    vectorized min/max pyramids (equivalent by range monotonicity
    under containment; a genuinely different algorithm than the
    engine's top-down split stack)."""
    from ..ops.payload import quadtree_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return quadtree_stats(sel)


def image_slope_aspect(spark, sf_dir):
    """SLOPE / ASPECT classification (the terrain derivative the
    reference's GeoTrellis stack publishes next to hillshade): Horn
    3x3 gradients on the milli-luma DEM under clamp borders, aspect
    bucketed into 8 octants by a first-match INTEGER rule (no atan2 —
    sign/magnitude comparisons only, so parity is exact), slope energy
    gx^2+gy^2 as int64.  Map-only mapInPandas like the other terrain
    queries; jpg excluded / first-500 bound.  Oracle: committed
    INDEPENDENT golden (generator pixels + np.ix_ clamp gathers + a
    scalar per-pixel octant chain vs the engine's pad-slice
    np.select)."""
    from ..ops.payload import slope_aspect_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return slope_aspect_stats(sel)


def image_strahler(spark, sf_dir):
    """STRAHLER STREAM ORDER over the D8 flow DAG — the stream-network
    hierarchy op completing the hydrology family (flow -> accumulation
    -> watershed -> order): order 1 at leaves, +1 where >= 2 upstream
    branches of equal max order meet.  Engine: ONE high-to-low
    elevation sweep (strict drop means upstream orders are final
    before their target folds them).  Map-only; exact int64.  Oracle:
    committed INDEPENDENT golden (stacked-argmax targets + memoized
    postorder DFS)."""
    from ..ops.payload import strahler_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return strahler_stats(sel)


def image_hist_equalize(spark, sf_dir):
    """HISTOGRAM EQUALIZATION stats — the contrast-normalization step
    of an imagery ingest pipeline, as the classic integer remap
    eq(v) = (cdf(v) - cdfmin) * 255 // (npx - cdfmin) over 256 luma
    levels (all integer division — exact at any partitioning).
    Map-only; jpg excluded / first-500 bound.  Oracle: committed
    INDEPENDENT golden (scalar counting-dict CDF vs the engine's
    bincount/cumsum LUT)."""
    from ..ops.payload import hist_equalize_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return hist_equalize_stats(sel)


def image_morphology(spark, sf_dir):
    """3x3 MORPHOLOGY (erosion / dilation / morphological gradient)
    under clamp borders — the denoise/edge-strength curation signal
    next to Sobel; min/max filters are also the focal-statistics
    primitive of the raster family.  Engine: edge-replicated pad + 8
    contiguous slice min/maxes (views, never gathers).  Map-only;
    exact int64.  Oracle: committed INDEPENDENT golden (np.ix_ clamp
    gathers per offset)."""
    from ..ops.payload import morphology_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return morphology_stats(sel)


def image_tpi_tri(spark, sf_dir):
    """TPI / TRI terrain indexes (Weiss topographic position; Riley
    ruggedness) — the landform-classification signals next to
    slope/aspect: TPI = 8*center - neighborhood sum (ridge/valley when
    |TPI| clears the milli-luma threshold), TRI = sum of absolute
    neighbor differences.  All-int64, map-only mapInPandas like the
    other terrain queries; jpg excluded / first-500 bound.  Oracle:
    committed INDEPENDENT golden (generator pixels + np.ix_ clamp
    gathers vs the engine's pad slices)."""
    from ..ops.payload import tpi_tri_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return tpi_tri_stats(sel)


def image_flow_length(spark, sf_dir):
    """D8 DOWNSTREAM FLOW LENGTH — the hydrology distance-to-outlet op
    completing the flow family (direction -> accumulation -> watershed
    -> order -> LENGTH): per-cell path length along the steepest-
    descent chain to its sink, integer 10/14 cardinal/diagonal weights
    decided by the EFFECTIVE (clamp-degraded) displacement.  Engine:
    vectorized pointer jumping with additive lengths (O(log path)
    rounds).  Map-only; exact int64.  Oracle: committed INDEPENDENT
    golden (stacked-argmax targets + memoized scalar chain walks)."""
    from ..ops.payload import flow_length_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return flow_length_stats(sel)


def image_box_downscale(spark, sf_dir):
    """2x BOX-FILTER DOWNSCALE — the image-pyramid level every
    multiresolution serving/training pipeline materializes (the raster
    twin of the cell-rollup spatial_pyramid): each output pixel is the
    integer mean of a 2x2 milli-luma block ((a+b+c+d) DIV 4 — exact at
    any partitioning).  Map-only; jpg excluded / first-500 bound.
    Oracle: committed INDEPENDENT golden (generator pixels + reshape
    blocks vs the engine's strided slices)."""
    from ..ops.payload import box_downscale_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return box_downscale_stats(sel)


def image_median3(spark, sf_dir):
    """3x3 MEDIAN FILTER stats — the order-statistic denoiser
    completing the focal family (morphology has min/max, TPI/TRI the
    linear stats): median of 9 = 5th smallest, exact integer at any
    partitioning.  Map-only; jpg excluded / first-500 bound.  Oracle:
    committed INDEPENDENT golden (generator pixels + sorted np.ix_
    clamp gathers vs the engine's pad-slice np.partition)."""
    from ..ops.payload import median3_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return median3_stats(sel)


def image_otsu(spark, sf_dir):
    """OTSU THRESHOLD per image — the classic histogram-based
    binarization (the segmentation step before region labeling).
    Exact: the between-class-variance argmax is compared as
    cross-multiplied arbitrary-precision integers (the squared
    numerator overflows int64), smallest-t tie-break.  Map-only; jpg
    excluded / first-500 bound.  Oracle: committed INDEPENDENT golden
    (Counter histogram + incremental running sums + Fraction compare
    vs the engine's bincount cumsums)."""
    from ..ops.payload import otsu_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return otsu_stats(sel)


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


def image_edt(spark, sf_dir):
    """EXACT squared EUCLIDEAN DISTANCE TRANSFORM to the nearest bright
    pixel — the exact companion to image_cost_distance's chamfer 3-4
    approximation (proximity rasters, buffer masks).  Map-only; jpg
    excluded / first-500 bound.  Oracle: committed golden from the
    INDEPENDENT Felzenszwalb-Huttenlocher lower-envelope algorithm
    with exact Fraction hull intersections (vs the engine's
    nearest-seed scans + vectorized offset broadcast)."""
    from ..ops.payload import edt_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return edt_stats(sel)


def image_fft_sharpness(spark, sf_dir):
    """FFT SHARPNESS: fraction of spectral energy above a quarter-
    Nyquist radius — the frequency-domain blur/sharpness curation
    signal next to Sobel's spatial one.  The 2-D rfft runs on the
    exact integer milli-luma raster; the mask is a pure-integer
    wavenumber-radius compare; energies are float64 with the argmax
    over non-DC magnitude deterministic (first max).  Oracle: golden
    twin regenerates the pixels from the generator SPEC and runs the
    same in-process rfft2 (the decode_stats precedent — the DECODE
    path is what the comparison exercises)."""
    from ..ops.payload import fft_sharpness_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return fft_sharpness_stats(sel)


def multimodal_caption_consistency(spark, sf_dir):
    """CROSS-MODAL CONSISTENCY QA: image pairs that are perceptual
    near-dups (phash LSH bands + exact hamming <= 6 — the certified
    image_near_dup_pairs machinery at a stricter tier) but whose
    CAPTIONS disagree — the mislabeled-pair detector an image+caption
    curation pipeline runs before training.  Pure relational over the
    binding (phash, caption) columns, so the oracle reruns it verbatim;
    emits the pairs with their hamming and the agreement flag."""
    from ..ops import payload as PL

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
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


def image_ssim_recon(spark, sf_dir):
    """GLOBAL SSIM of the 2x box-downscale + nearest-upsample
    reconstruction — the perceptual quality metric beyond PSNR (X3):
    how much signal a pyramid level loses, per image.  Moment sums are
    exact int64; one SPEC'd double chain evaluates the closed form and
    FLOORs to micros.  Map-only; jpg excluded / first-500 bound.
    Oracle: committed golden with independent mechanics (reshape
    blocks + np.kron + python-int sums vs strided slices + np.repeat +
    numpy sums)."""
    from ..ops.payload import ssim_recon_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return ssim_recon_stats(sel)


def image_fast_corners(spark, sf_dir):
    """FAST-12 CORNER DETECTION (the keypoint/texture curation signal
    next to Sobel and Harris-free GLCM): a pixel is a corner when some
    CONTIGUOUS circular arc of >= 12 of its 16 Bresenham-circle
    neighbors is uniformly brighter (or darker) than center +- t.
    Pure-integer comparisons on milli-luma; interior pixels only.
    Engine: 16 shifted views -> packed 16-bit codes -> sliced circular
    AND; golden twin: the SAME codes through a 65536-entry max-run
    LOOKUP TABLE built scalar — two different run detectors."""
    from ..ops.payload import fast_corner_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return fast_corner_stats(sel)


def image_affine_bilinear(spark, sf_dir):
    """AFFINE ROTATION with FIXED-POINT BILINEAR resampling — the
    interpolation family the nearest-neighbour CRS warp deliberately
    avoided, made hash-exact: the inverse-rotation matrix is an
    integer 16.16 fixed-point literal, source coordinates stay
    integral on a doubled grid, and the bilinear weights quantize to
    1/256 BEFORE the blend so every output pixel is one exact integer
    expression.  Map-only; out-of-bounds samples are skipped (counted).
    Oracle: committed golden with gather-based mechanics."""
    from ..ops.payload import affine_bilinear_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return affine_bilinear_stats(sel)


def image_hough_lines(spark, sf_dir):
    """DOMINANT-LINE HOUGH TRANSFORM over the certified Sobel edge map
    — the straight-structure curation signal (documents/buildings/
    horizons score high, natural texture low).  ALL INTEGER: 12
    fixed-point 15-degree theta bins, 4-pixel rho bins, votes by
    bincount; argmax tie-break is the smallest (theta, rho), and the
    checksum folds votes^2 over the accumulator so the full vote
    surface is oracle-visible.  Map-only (payload bytes never
    shuffle).  Oracle: committed golden with np.add.at scatter
    mechanics over clamp-indexed generator pixels."""
    from ..ops.payload import hough_lines_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return hough_lines_stats(sel)


def image_canny_hysteresis(spark, sf_dir):
    """TWO-THRESHOLD HYSTERESIS EDGE LINKING (the Canny stage after
    the gradient): weak edges survive only when 8-connected — through
    other weak pixels — to a strong edge, killing isolated noise while
    keeping faint continuations of real contours.  The engine kernel
    is a vectorized dilation fixpoint; the golden twin floods with a
    scalar BFS deque — two different algorithms meeting at the unique
    connected closure.  Map-only; every output is an exact integer.
    Oracle: committed golden over clamp-indexed generator pixels."""
    from ..ops.payload import canny_hysteresis_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return canny_hysteresis_stats(sel)


def image_harris_corners(spark, sf_dir):
    """HARRIS CORNER DETECTION (the classical eigen-response detector
    next to FAST-12's arc test — two independent keypoint signals for
    image curation): all-integer response R = 20·det(M) − trace(M)²
    (k = 0.05 exactly) over 3×3-summed Sobel products on the
    255-scale gray raster, deterministic raster-order NMS.  Map-only
    over the decode path — payload bytes never shuffle.  Golden twin
    recomputes the SPEC via np.ix_ gathers + summed-area-table box
    sums + scalar NMS (three independent mechanisms)."""
    from ..ops.payload import harris_corner_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return harris_corner_stats(sel)


def image_skeleton_zs(spark, sf_dir):
    """MORPHOLOGICAL SKELETONIZATION (Zhang-Suen thinning) — reduces
    every bright region to its 1-px medial skeleton, the classical
    shape-analysis step after binarization (stroke extraction for the
    document-image curation family).  Synchronous two-sub-pass
    deletion to the deterministic fixpoint; map-only over the decode
    path.  Golden twin drives the same SPEC through 256-entry
    predicate LUTs built with scalar loops (vs the engine's slice
    arithmetic)."""
    from ..ops.payload import zhang_suen_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return zhang_suen_stats(sel)


def image_lbp_texture(spark, sf_dir):
    """LOCAL BINARY PATTERNS (Ojala texture codes — the
    rotation-sensitive micro-texture signal next to GLCM's
    co-occurrence statistics): 8-bit neighbor-comparison codes with
    the uniform-pattern count (circular transitions <= 2), all
    integer, map-only.  Golden twin packs the same comparisons via
    flat np.take gathers + a scalar-built 256-entry transition LUT."""
    from ..ops.payload import lbp_texture_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return lbp_texture_stats(sel)


def image_canny_nms(spark, sf_dir):
    """CANNY DIRECTIONAL NON-MAX SUPPRESSION — the thin-edge stage
    between the certified Sobel magnitude and the hysteresis linker:
    gradient direction quantized to 22.5-degree sectors by
    cross-multiplied integer tests (TAN22_FP = 106, no atan2), each
    edge pixel survives only as the strict maximum along its own
    gradient line (raster-earlier neighbor breaks ties).  Map-only,
    all-integer.  Golden twin resolves every candidate with a scalar
    loop."""
    from ..ops.payload import canny_nms_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return canny_nms_stats(sel)


def image_dither_fs(spark, sf_dir):
    """FLOYD-STEINBERG DITHERING — 1-bit halftoning with integer error
    diffusion (the display/compression preprocessing op; also the
    classic example of an inherently SEQUENTIAL per-image kernel that
    still parallelizes perfectly ACROSS images behind the map-only
    decode path).  All-integer FLOOR diffusion; golden twin is a fully
    scalar 2-D list walk.  A mid-gray field dithers to ~50% on-pixels
    (pinned analytically in pytest)."""
    from ..ops.payload import dither_fs_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return dither_fs_stats(sel)


def multimodal_audio_decimate(spark, sf_dir):
    """SAMPLE-RATE REDUCTION (decimate-by-2 through the classic 32-sum
    half-band FIR, all-integer with floor division) over the REAL-WAV
    audio fixture — the resample primitive of audio ingest pipelines.
    Engine: strided numpy slices per tap over the decoded channel-0
    PCM; golden: regenerated waveform + reimplemented PCM16 + scalar
    FIR loop (the audio-golden convention)."""
    from ..ops.multimodal import audio_decimate_stats, synth_audio_table

    return audio_decimate_stats(synth_audio_table(spark, 64))


def image_dog_blobs(spark, sf_dir):
    """DIFFERENCE-OF-GAUSSIANS BLOB DETECTION — completes the keypoint
    triad (Harris corners, Canny thin edges, DoG blobs): two levels of
    the separable binomial pyramid on MILLI-luma (the fixture is
    smooth; gray-unit DoG rounds away), two-polarity extremum NMS with
    the deterministic raster-earlier tie rule, all integer, map-only.
    Golden twin convolves via flat np.take gathers and resolves every
    candidate with a scalar loop."""
    from ..ops.payload import dog_blob_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return dog_blob_stats(sel)


def image_haar_energy(spark, sf_dir):
    """2-LEVEL INTEGER HAAR DWT subband energies — the wavelet
    frequency-split every compression/denoise/texture pipeline starts
    from, in its UNNORMALIZED sum/difference form so the transform is
    EXACT integer arithmetic (no division, no rounding spec to agree
    on — the energies are fold-order-free BIGINTs by construction).
    Map-only behind the decode path; golden twin gathers each 2x2
    block corner with scalar loops (vs the engine's strided slices)."""
    from ..ops.payload import haar_energy_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return haar_energy_stats(sel)


def image_seam_carve(spark, sf_dir):
    """VERTICAL SEAM CARVING — the content-aware-resize DP (min-energy
    top-to-bottom 8-connected path over the clamped-gradient energy
    map), the third inherently-sequential-per-image kernel next to the
    dither and the skeleton fixpoint: row-vectorized DP in the engine,
    fully scalar DP in the golden, leftmost-argmin ties in both.
    Parallel across images, payload bytes never shuffle."""
    from ..ops.payload import seam_carve_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return seam_carve_stats(sel)


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


def image_template_match(spark, sf_dir):
    """INTEGER TEMPLATE MATCHING — min-SSD localization of a fixed 8x8
    pattern (the where-is-this-patch primitive next to the detectors:
    Harris/DoG find WHAT is interesting, matching finds WHERE a known
    patch sits).  SSD decomposes into 64 shifted-slice accumulations —
    exact int64, map-only; the golden gathers windows with np.take and
    re-resolves the raster-earlier argmin with a scalar loop."""
    from ..ops.payload import template_match_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return template_match_stats(sel)


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
    from ..ops.payload import palette_mediancut_stats

    images, _roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    sel = images.filter(
        (F.col("image_id") < "img000000000500") & (F.col("fmt") != "jpg")
    )
    return palette_mediancut_stats(sel)


QUERIES = {
    "multimodal_audio_features": multimodal_audio_features,
    "multimodal_video_frames": multimodal_video_frames,
    "multimodal_audio_spectral": multimodal_audio_spectral,
    "multimodal_video_cuts": multimodal_video_cuts,
    "image_render_colormap": image_render_colormap,
    "image_rai_summary": image_rai_summary,
    "image_cost_distance": image_cost_distance,
    "image_warp_utm": image_warp_utm,
    "image_decode_stats": image_decode_stats,
    "image_near_dup_pairs": image_near_dup_pairs,
    "image_thumbnails": image_thumbnails,
    "image_slope_aspect": image_slope_aspect,
    "image_strahler": image_strahler,
    "image_hist_equalize": image_hist_equalize,
    "image_morphology": image_morphology,
    "image_texture_glcm": image_texture_glcm,
    "image_quadtree": image_quadtree,
    "image_sobel_edges": image_sobel_edges,
    "image_flow_d8": image_flow_d8,
    "image_watershed": image_watershed,
    "image_viewshed": image_viewshed,
    "image_pit_fill": image_pit_fill,
    "image_hillshade": image_hillshade,
    "image_zonal_stats": image_zonal_stats,
    "image_contours": image_contours,
    "image_regions": image_regions,
    "multimodal_audio_stft": multimodal_audio_stft,
    "image_tpi_tri": image_tpi_tri,
    "image_flow_length": image_flow_length,
    "image_box_downscale": image_box_downscale,
    "image_median3": image_median3,
    "image_otsu": image_otsu,
    "multimodal_audio_pitch": multimodal_audio_pitch,
    "multimodal_video_motion": multimodal_video_motion,
    "image_edt": image_edt,
    "image_fft_sharpness": image_fft_sharpness,
    "multimodal_caption_consistency": multimodal_caption_consistency,
    "image_ssim_recon": image_ssim_recon,
    "image_fast_corners": image_fast_corners,
    "image_affine_bilinear": image_affine_bilinear,
    "image_hough_lines": image_hough_lines,
    "image_canny_hysteresis": image_canny_hysteresis,
    "image_harris_corners": image_harris_corners,
    "image_skeleton_zs": image_skeleton_zs,
    "image_lbp_texture": image_lbp_texture,
    "image_canny_nms": image_canny_nms,
    "image_dither_fs": image_dither_fs,
    "multimodal_audio_decimate": multimodal_audio_decimate,
    "image_dog_blobs": image_dog_blobs,
    "image_palette_mediancut": image_palette_mediancut,
    "image_template_match": image_template_match,
    "multimodal_audio_biquad": multimodal_audio_biquad,
    "image_haar_energy": image_haar_energy,
    "image_seam_carve": image_seam_carve,
}
