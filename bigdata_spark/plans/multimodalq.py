"""Multimodal-column queries (driver brief). The media table is a
deterministic synthetic (no binary fixtures in the testdata), so every
query output is a constant — pinned either from first principles
(mm_frame_sample) or as literal-value oracles (golden_sql.py); the
plumbing itself is also covered by tests/test_multimodal.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..multimodal.media import (
    decode_image_features,
    frame_sample_plan,
    media_metadata,
    synthetic_media_df,
)


def mm_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synthetic_media_df(spark, n=64)
    return media_metadata(media).groupBy("kind").agg(
        F.count("*").alias("n"),
        F.sum("payload_bytes").alias("total_bytes"),
    )


def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synthetic_media_df(spark, n=64)
    feats = decode_image_features(media, n_features=8)
    return feats.select(
        "media_id", F.round(F.aggregate("features", F.lit(0.0), lambda a, x: a + x), 9).alias("feat_sum")
    )


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan rollup. Oracle-checked from first
    principles: the synthetic table's video rows are ids ≡ 2 (mod 3)
    with duration 1000·(1 + id mod 5) ms, so the expected frame counts
    are derivable in pure SQL — no golden literals."""
    media = synthetic_media_df(spark, n=64)
    return frame_sample_plan(media, every_ms=500).groupBy("media_id").agg(
        F.count("*").alias("n_frames"), F.max("frame_ts_ms").alias("last_ts_ms")
    )


MM_FRAME_SQL = """
WITH ids AS (SELECT UNNEST(range(64)) AS media_id),
vids AS (
  SELECT media_id, 1000 * (1 + media_id % 5) AS duration_ms
  FROM ids WHERE media_id % 3 = 2
)
SELECT media_id,
       CAST(greatest(duration_ms // 500, 1) AS BIGINT) AS n_frames,
       CAST((greatest(duration_ms // 500, 1) - 1) * 500 AS BIGINT) AS last_ts_ms
FROM vids
"""


def mm_decode_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-decode invariants (codecs.py, jpeg.py): the synthetic
    images are x/y gradients, so decoded red/green channel means sit at
    ~0.5 — pinned SEPARATELY for the raw-PPM rows, the zlib-compressed
    PNG rows, and the baseline-JPEG rows (the PNG/JPEG thirds fail if
    the Deflate/scanline-filter or Huffman/IDCT decode were a hash
    fake; JPEG is lossy but DC quantization moves a channel mean by
    <0.01); the synthetic WAVs are pure sines of amplitude 12000/32768,
    so decoded mean ~0 and RMS ~amp/sqrt(2)."""
    media = synthetic_media_df(spark, n=64)
    fmts = media.select(
        "media_id",
        F.col("meta.kind").alias("kind"),
        F.col("meta.format").alias("format"),
    )
    feats = decode_image_features(media, n_features=8).join(fmts, "media_id")
    amp_rms = (12000.0 / 32768.0) / (2.0**0.5)

    def _dev(fmt: str, feature_ix: int, center: float):
        return F.max(
            F.when(
                F.col("format") == fmt,
                F.abs(F.element_at("features", feature_ix) - center),
            )
        )

    row = feats.agg(
        _dev("ppm", 1, 0.5).alias("ppm_red_dev"),
        _dev("ppm", 2, 0.5).alias("ppm_green_dev"),
        _dev("png", 1, 0.5).alias("png_red_dev"),
        _dev("png", 2, 0.5).alias("png_green_dev"),
        _dev("jpeg", 1, 0.5).alias("jpeg_red_dev"),
        _dev("jpeg", 2, 0.5).alias("jpeg_green_dev"),
        _dev("wav", 1, 0.0).alias("audio_mean_dev"),
        _dev("wav", 5, amp_rms).alias("audio_rms_dev"),
        F.count(F.when(F.col("format") == "png", 1)).alias("n_png"),
        F.count(F.when(F.col("format") == "jpeg", 1)).alias("n_jpeg"),
    ).first()
    return spark.createDataFrame(
        [
            (
                bool(row["ppm_red_dev"] < 0.01),
                bool(row["ppm_green_dev"] < 0.01),
                bool(row["png_red_dev"] < 0.01),
                bool(row["png_green_dev"] < 0.01),
                bool(row["jpeg_red_dev"] < 0.01),
                bool(row["jpeg_green_dev"] < 0.01),
                bool(row["audio_mean_dev"] < 0.001),
                bool(row["audio_rms_dev"] < 0.01),
                bool(row["n_png"] > 0 and row["n_jpeg"] > 0),
            )
        ],
        "ppm_red_mean_ok boolean, ppm_green_mean_ok boolean, "
        "png_red_mean_ok boolean, png_green_mean_ok boolean, "
        "jpeg_red_mean_ok boolean, jpeg_green_mean_ok boolean, "
        "audio_mean_ok boolean, audio_rms_ok boolean, compressed_rows_present boolean",
    )


MM_DECODE_SQL = (
    "SELECT TRUE AS ppm_red_mean_ok, TRUE AS ppm_green_mean_ok, "
    "TRUE AS png_red_mean_ok, TRUE AS png_green_mean_ok, "
    "TRUE AS jpeg_red_mean_ok, TRUE AS jpeg_green_mean_ok, "
    "TRUE AS audio_mean_ok, TRUE AS audio_rms_ok, TRUE AS compressed_rows_present"
)


def mm_resize_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize path (media.py resize_images): nearest-neighbor
    resample of the gradient images to 32×24 — PPM via header-aware
    row/col indexing, PNG and JPEG via full decode → resample →
    re-encode — then a REAL re-decode of the resized payloads. Pins:
    channel means survive resampling (a gradient stays a gradient),
    metadata carries the new dimensions, and all three image formats
    are present end-to-end."""
    from ..multimodal.media import resize_images

    media = synthetic_media_df(spark, n=64).filter(F.col("meta.kind") == "image")
    # small feeds TWO consumers (dims + the re-decode); unchecked, the
    # full Python decode→resample→re-encode runs once per branch — the
    # lazy checkpoint pins one evaluation (bounded: 21 thumbnails)
    small = resize_images(media, 32, 24).localCheckpoint(eager=False)
    dims = small.select(
        "media_id",
        F.col("meta.width").alias("w"),
        F.col("meta.height").alias("h"),
        F.col("meta.format").alias("format"),
    )
    feats = decode_image_features(small, n_features=8).join(dims, "media_id")
    row = feats.agg(
        F.max(F.abs(F.element_at("features", 1) - 0.5)).alias("red_dev"),
        F.max(F.abs(F.element_at("features", 2) - 0.5)).alias("green_dev"),
        F.min(F.col("w")).alias("w_min"),
        F.max(F.col("w")).alias("w_max"),
        F.min(F.col("h")).alias("h_min"),
        F.max(F.col("h")).alias("h_max"),
        F.count(F.when(F.col("format") == "png", 1)).alias("n_png"),
        F.count(F.when(F.col("format") == "ppm", 1)).alias("n_ppm"),
        F.count(F.when(F.col("format") == "jpeg", 1)).alias("n_jpeg"),
    ).first()
    return spark.createDataFrame(
        [
            (
                bool(row["red_dev"] < 0.03),
                bool(row["green_dev"] < 0.03),
                bool(row["w_min"] == 32 and row["w_max"] == 32),
                bool(row["h_min"] == 24 and row["h_max"] == 24),
                bool(row["n_png"] > 0 and row["n_ppm"] > 0 and row["n_jpeg"] > 0),
            )
        ],
        "red_mean_ok boolean, green_mean_ok boolean, width_ok boolean, "
        "height_ok boolean, all_formats boolean",
    )


MM_RESIZE_SQL = (
    "SELECT TRUE AS red_mean_ok, TRUE AS green_mean_ok, TRUE AS width_ok, "
    "TRUE AS height_ok, TRUE AS all_formats"
)


from .golden_sql import values_oracle

# Pinned-literal oracles (VERDICT r2 next #2): the synthetic media
# table is a deterministic function of n=64, so the metadata rollup and
# the decoded-feature sums are constants — pinned via tools/pin_golden.py.
MM_METADATA_SQL = values_oracle(
    "mm_metadata", [("kind", "varchar"), ("n", "bigint"), ("total_bytes", "bigint")]
)
MM_FEATURES_SQL = values_oracle(
    "mm_decode_features", [("media_id", "bigint"), ("feat_sum", "double")]
)


def mm_mp4_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling + decode: each synthetic MJPEG mp4's
    ISO-BMFF sample table (multimodal/mp4.py) picks the on-screen
    frame every 500 ms, the frame's JPEG decodes to real pixels, and
    per-frame channel means/gray-std come back as scalars. This is the
    100 TB video-pipeline kernel — seek via sample table, decode only
    sampled frames, ship only features. Per-video rollup keeps the
    pinned oracle small while covering every frame's values (a wrong
    pixel anywhere moves a sum)."""
    from ..multimodal.media import decode_sampled_frames

    media = synthetic_media_df(spark, n=64)
    frames = decode_sampled_frames(media, every_ms=500)
    return frames.groupBy("media_id").agg(
        F.count("*").alias("n_frames"),
        F.max("sample_ix").cast("long").alias("last_sample_ix"),
        F.round(F.sum("mean_r"), 9).alias("sum_mean_r"),
        F.round(F.sum("mean_g"), 9).alias("sum_mean_g"),
        F.round(F.sum("mean_b"), 9).alias("sum_mean_b"),
        F.round(F.sum("gray_std"), 9).alias("sum_gray_std"),
    )


def mm_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-domain audio features: rFFT over each synthetic PCM16
    clip (multimodal/media.decode_audio_spectral). The clips are pure
    sines at 110*(1 + id mod 8) Hz, so the dominant-bin recovery is a
    from-first-principles check (test) while the pinned oracle locks
    the exact rounded values."""
    media = synthetic_media_df(spark, n=64)
    from ..multimodal.media import decode_audio_spectral

    sp = decode_audio_spectral(media)
    return sp.select(
        "media_id",
        F.round("dominant_hz", 6).alias("dominant_hz"),
        F.round("centroid_hz", 6).alias("centroid_hz"),
        F.round("rms", 9).alias("rms"),
    )


MM_AUDIO_SQL = values_oracle(
    "mm_audio_spectral",
    [
        ("media_id", "bigint"),
        ("dominant_hz", "double"),
        ("centroid_hz", "double"),
        ("rms", "double"),
    ],
)


_PHASH_BANDS, _PHASH_BAND_BITS, _PHASH_MAX_HAM = 4, 16, 3


def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection by perceptual hash with banded
    candidate generation (banded LSH over the image hash).

    Pixels reduce to a 64-bit aHash inside Arrow batches
    (multimodal/media.perceptual_hash); candidate pairs come from a
    4×16-bit band equi-join, and by pigeonhole any pair within
    Hamming distance 3 shares at least one identical band — so recall
    at the ≤3 threshold is GUARANTEED, not probabilistic. Verification
    is a native `bit_count(xor)` on the 8-byte hashes. At 100 TB only
    (id, band, band_key) ever shuffles; pixels stay in the scan."""
    from ..multimodal.media import perceptual_hash

    media = synthetic_media_df(spark, n=64).filter(
        F.col("meta.kind") == "image"
    )
    ph = perceptual_hash(media).filter(F.col("phash").isNotNull()).localCheckpoint()
    bands = ph.select(
        "media_id",
        "phash",
        F.explode(F.expr(f"sequence(0, {_PHASH_BANDS - 1})")).alias("b"),
    ).select(
        "media_id",
        "phash",
        "b",
        F.expr(
            f"shiftrightunsigned(phash, b * {_PHASH_BAND_BITS})"
            f" & {(1 << _PHASH_BAND_BITS) - 1}"
        ).alias("band_key"),
    )
    a = bands.select(
        F.col("media_id").alias("id_a"), F.col("phash").alias("ph_a"), "b", "band_key"
    )
    bb = bands.select(
        F.col("media_id").alias("id_b"), F.col("phash").alias("ph_b"), "b", "band_key"
    )
    cand = (
        a.join(bb, ["b", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ph_a", "ph_b")
        .distinct()
    )
    scored = cand.withColumn("ham", F.expr("bit_count(ph_a ^ ph_b)"))
    return (
        ph.agg(
            F.count("*").alias("n_images"),
            F.countDistinct("phash").alias("n_distinct_hashes"),
        )
        .crossJoin(
            scored.agg(
                F.count("*").alias("n_candidate_pairs"),
                F.sum(
                    (F.col("ham") <= _PHASH_MAX_HAM).cast("long")
                ).alias("n_dup_pairs"),
                F.sum((F.col("ham") == 0).cast("long")).alias("n_exact_dup_pairs"),
            )
        )
    )


MM_PHASH_SQL = values_oracle(
    "mm_phash_dedup",
    [
        ("n_images", "bigint"),
        ("n_distinct_hashes", "bigint"),
        ("n_candidate_pairs", "bigint"),
        ("n_dup_pairs", "bigint"),
        ("n_exact_dup_pairs", "bigint"),
    ],
)


MM_MP4_FRAMES_SQL = values_oracle(
    "mm_mp4_frames",
    [
        ("media_id", "bigint"),
        ("n_frames", "bigint"),
        ("last_sample_ix", "bigint"),
        ("sum_mean_r", "double"),
        ("sum_mean_g", "double"),
        ("sum_mean_b", "double"),
        ("sum_gray_std", "double"),
    ],
)


_SCENE_CUT_THRESHOLD = 0.10  # mean-gray jump (0..1 scale) that counts as a cut


def mm_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene-cut detection — the shot-boundary kernel a video
    training-data pipeline runs before sampling clips: decode EVERY
    frame's mean luminance inside Arrow batches
    (multimodal/media.decode_frame_lumas; only one scalar per frame
    leaves the worker), then flag a cut wherever the luma jumps by
    more than _SCENE_CUT_THRESHOLD between consecutive frames (lag
    window per video, ordered by frame index). The synthetic MJPEG
    clips drift their channel patterns per frame mod 256, so wraps
    produce genuine sparse cuts on a slowly-varying background —
    deterministic, so the per-video census (frame count, cut count,
    first cut, total absolute luma motion) pins as a literal oracle.
    At 100 TB the shape holds: pixels never shuffle, the window is
    per-video, and cuts-per-video is the natural pre-aggregation."""
    from pyspark.sql import Window

    from ..multimodal.media import decode_frame_lumas

    media = synthetic_media_df(spark, n=64)
    lumas = decode_frame_lumas(media)
    w = Window.partitionBy("media_id").orderBy("frame_ix")
    d = lumas.withColumn(
        "delta", F.col("mean_gray") - F.lag("mean_gray").over(w)
    ).withColumn(
        "is_cut", F.abs("delta") > _SCENE_CUT_THRESHOLD
    )
    return d.groupBy("media_id").agg(
        F.count("*").alias("n_frames"),
        F.sum(F.col("is_cut").cast("long")).alias("n_cuts"),
        # -1 = no cut (NULL would break the literal-VALUES oracle render)
        F.coalesce(
            F.min(F.when(F.col("is_cut"), F.col("frame_ix"))).cast("long"), F.lit(-1)
        ).alias("first_cut_ix"),
        # per-frame |delta| quantized to nano-units so the distributed
        # sum is order-free exact (an integer BIGINT sum) —
        # no dependence on partition merge order
        (
            F.sum(F.floor(F.abs("delta") * 1e9 + F.lit(0.5)).cast("long")) / 1e9
        ).alias("sum_abs_delta"),
    )


MM_SCENE_CUT_SQL = values_oracle(
    "mm_scene_cut",
    [
        ("media_id", "bigint"),
        ("n_frames", "bigint"),
        ("n_cuts", "bigint"),
        ("first_cut_ix", "bigint"),
        ("sum_abs_delta", "double"),
    ],
)


# ---------------------------------------------------------------------------
# mm_audio_silence — VAD-style silence segmentation over gated clips
# ---------------------------------------------------------------------------

_SIL_WIN_MS = 125
_SIL_THRESH = 0.01  # RMS below this (float, sine RMS ≈ 0.26) = silent


def mm_audio_silence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence segmentation over burst-gated audio — the
    voice-activity-detection shape of a speech-data pipeline: find,
    per clip, how much is silence, how many silent runs there are, the
    longest run, and where silence first starts.

    The decode (multimodal/media.decode_audio_rms_windows) reduces each
    REAL PCM16 WAV to 125 ms RMS windows inside Arrow batches — only
    (id, win_ix, rms) leaves Python, the waveform never shuffles. The
    runs are then pure relational gaps-and-islands (win_ix − row_number
    per clip, the w8 pattern) and every output is an exact integer, so
    the literal pin is stable. At 100 TB the window table is
    ~16 rows/clip — segmentation cost is corpus-row-sized, not
    sample-sized."""
    from ..multimodal.media import decode_audio_rms_windows, synthetic_gated_audio_df

    media = synthetic_gated_audio_df(spark, n=48)
    wins = decode_audio_rms_windows(media, win_ms=_SIL_WIN_MS)
    flagged = wins.select(
        "media_id",
        "win_ix",
        (F.col("rms") < _SIL_THRESH).cast("int").alias("silent"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("media_id").orderBy("win_ix")
    runs = (
        flagged.filter(F.col("silent") == 1)
        .withColumn("grp", F.col("win_ix") - F.row_number().over(w))
        .groupBy("media_id", "grp")
        .agg(F.count("*").alias("run_len"), F.min("win_ix").alias("run_start"))
        .groupBy("media_id")
        .agg(
            F.count("*").alias("n_runs"),
            F.max("run_len").alias("longest_run_wins"),
            F.min("run_start").alias("first_silent_win"),
            F.sum("run_len").alias("n_silent"),
        )
    )
    totals = flagged.groupBy("media_id").agg(F.count("*").alias("n_windows"))
    return (
        totals.join(runs, "media_id", "left_outer")
        .select(
            "media_id",
            "n_windows",
            F.coalesce("n_silent", F.lit(0)).alias("n_silent"),
            F.coalesce("n_runs", F.lit(0)).alias("n_runs"),
            (F.coalesce("longest_run_wins", F.lit(0)) * _SIL_WIN_MS)
            .alias("longest_run_ms"),
            F.coalesce(
                (F.col("first_silent_win") * _SIL_WIN_MS).cast("long"),
                F.lit(-1).cast("long"),
            ).alias("first_silence_ms"),
        )
        .orderBy("media_id")
    )


MM_AUDIO_SILENCE_SQL = values_oracle(
    "mm_audio_silence",
    [
        ("media_id", "bigint"),
        ("n_windows", "bigint"),
        ("n_silent", "bigint"),
        ("n_runs", "bigint"),
        ("longest_run_ms", "bigint"),
        ("first_silence_ms", "bigint"),
    ],
)


def mm_image_header_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-ONLY image probe — width/height parsed from the raw
    payload bytes with NATIVE expressions (PNG IHDR big-endian words
    via substring+hex+conv; PPM ASCII header via decode+regexp): the
    100 TB triage pass that inventories a multimodal corpus WITHOUT
    decoding a single pixel or leaving whole-stage codegen. The oracle
    recomputes the expected dimensions from the synthetic generator's
    closed-form (w = 64+(i%4)·32, h = 64 for image rows), so a parse
    that reads the wrong offsets value-mismatches.

    Scale: a projection over the binary column — no shuffle, no
    Python, payload bytes never leave the scan stage."""
    m = synthetic_media_df(spark, n=64).filter(
        F.col("meta.format").isin("png", "ppm")
    )
    ppm_dim = (
        "CAST(regexp_extract(decode(substring(payload, 1, 20), 'UTF-8'),"
        " '^P6\\\\n(\\\\d+) (\\\\d+)', {g}) AS BIGINT)"
    )
    return m.select(
        "media_id",
        F.col("meta.format").alias("fmt"),
        F.when(
            F.col("meta.format") == "png",
            F.expr("CAST(conv(hex(substring(payload, 17, 4)), 16, 10) AS BIGINT)"),
        ).otherwise(F.expr(ppm_dim.format(g=1))).alias("width"),
        F.when(
            F.col("meta.format") == "png",
            F.expr("CAST(conv(hex(substring(payload, 21, 4)), 16, 10) AS BIGINT)"),
        ).otherwise(F.expr(ppm_dim.format(g=2))).alias("height"),
    ).orderBy("media_id")


MM_HEADER_PROBE_SQL = """
WITH ids AS (SELECT i AS media_id FROM range(64) t(i) WHERE i % 3 = 0),
fm AS (
  SELECT media_id,
         CASE WHEN (media_id // 3) % 3 = 0 THEN 'ppm'
              WHEN (media_id // 3) % 3 = 1 THEN 'png' END AS fmt
  FROM ids
)
SELECT CAST(media_id AS BIGINT) AS media_id, fmt,
       CAST(64 + (media_id % 4) * 32 AS BIGINT) AS width,
       CAST(64 AS BIGINT) AS height
FROM fm WHERE fmt IS NOT NULL ORDER BY media_id
"""


# ---------------------------------------------------------------------------
# mm_patch_census — ViT-style patch-grid accounting from native headers
# ---------------------------------------------------------------------------

_PATCH = 24  # deliberately NOT a divisor of the widths → real padding math


def mm_patch_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch-grid census: per image, the 24×24 patch grid a
    vision transformer would cut it into — patches per axis (ceil
    division), sequence length with the CLS token, and padded pixels —
    computed from dimensions parsed NATIVELY out of the payload bytes
    (the mm_image_header_probe expressions; no pixel decode, no
    Python). This is the token-budget accounting a multimodal training
    pipeline runs before deciding resize policy: padded pixels are
    wasted FLOPs, sequence length is the context cost.

    The oracle recomputes everything from the synthetic generator's
    closed form, so a wrong header offset or a wrong ceil-division
    value-mismatches. Scale: pure projection over the binary scan."""
    m = synthetic_media_df(spark, n=64).filter(
        F.col("meta.format").isin("png", "ppm")
    )
    ppm_dim = (
        "CAST(regexp_extract(decode(substring(payload, 1, 20), 'UTF-8'),"
        " '^P6\\\\n(\\\\d+) (\\\\d+)', {g}) AS BIGINT)"
    )
    dims = m.select(
        "media_id",
        F.when(
            F.col("meta.format") == "png",
            F.expr("CAST(conv(hex(substring(payload, 17, 4)), 16, 10) AS BIGINT)"),
        ).otherwise(F.expr(ppm_dim.format(g=1))).alias("w"),
        F.when(
            F.col("meta.format") == "png",
            F.expr("CAST(conv(hex(substring(payload, 21, 4)), 16, 10) AS BIGINT)"),
        ).otherwise(F.expr(ppm_dim.format(g=2))).alias("h"),
    )
    return dims.select(
        "media_id",
        "w",
        "h",
        F.expr(f"CAST((w + {_PATCH} - 1) div {_PATCH} AS BIGINT)").alias("np_x"),
        F.expr(f"CAST((h + {_PATCH} - 1) div {_PATCH} AS BIGINT)").alias("np_y"),
        F.expr(
            f"CAST((w + {_PATCH} - 1) div {_PATCH}"
            f" * ((h + {_PATCH} - 1) div {_PATCH}) + 1 AS BIGINT)"
        ).alias("seq_len"),
        F.expr(
            f"CAST((w + {_PATCH} - 1) div {_PATCH} * {_PATCH}"
            f" * ((h + {_PATCH} - 1) div {_PATCH}) * {_PATCH}"
            " - w * h AS BIGINT)"
        ).alias("pad_pixels"),
    ).orderBy("media_id")


MM_PATCH_SQL = f"""
WITH ids AS (SELECT i AS media_id FROM range(64) t(i) WHERE i % 3 = 0),
fm AS (
  SELECT media_id,
         CASE WHEN (media_id // 3) % 3 = 0 THEN 'ppm'
              WHEN (media_id // 3) % 3 = 1 THEN 'png' END AS fmt,
         CAST(64 + (media_id % 4) * 32 AS BIGINT) AS w,
         CAST(64 AS BIGINT) AS h
  FROM ids
)
SELECT CAST(media_id AS BIGINT) AS media_id, w, h,
       (w + {_PATCH} - 1) // {_PATCH} AS np_x,
       (h + {_PATCH} - 1) // {_PATCH} AS np_y,
       (w + {_PATCH} - 1) // {_PATCH} * ((h + {_PATCH} - 1) // {_PATCH}) + 1
         AS seq_len,
       (w + {_PATCH} - 1) // {_PATCH} * {_PATCH}
         * ((h + {_PATCH} - 1) // {_PATCH}) * {_PATCH} - w * h AS pad_pixels
FROM fm WHERE fmt IS NOT NULL ORDER BY media_id
"""


QUERIES = {
    "mm_patch_census": (mm_patch_census, MM_PATCH_SQL),
    "mm_image_header_probe": (mm_image_header_probe, MM_HEADER_PROBE_SQL),
    "mm_decode_invariants": (mm_decode_invariants, MM_DECODE_SQL),
    "mm_audio_silence": (mm_audio_silence, MM_AUDIO_SILENCE_SQL),
    "mm_scene_cut": (mm_scene_cut, MM_SCENE_CUT_SQL),
    "mm_mp4_frames": (mm_mp4_frames, MM_MP4_FRAMES_SQL),
    "mm_phash_dedup": (mm_phash_dedup, MM_PHASH_SQL),
    "mm_resize_invariants": (mm_resize_invariants, MM_RESIZE_SQL),
    "mm_metadata": (mm_metadata, MM_METADATA_SQL),
    "mm_decode_features": (mm_decode_features, MM_FEATURES_SQL),
    "mm_frame_sample": (mm_frame_sample, MM_FRAME_SQL),
    "mm_audio_spectral": (mm_audio_spectral, MM_AUDIO_SQL),
}
