"""Multimodal binary-column operators for training-data pipelines.

Media are opaque `binary` columns + typed metadata structs; all per-item work
runs in Arrow-batched mapInPandas stages (never per-row Python UDFs).

What is REAL here: PNG/JPEG decode/metadata/resize/feature-extract (the
engine's own codecs + kernels), PCM-WAV audio decode + features
(imaging/wav.py — RIFF parsed from scratch), and MJPEG-AVI video frame
sampling (imaging/avi.py — RIFF/AVI parsed from scratch, frames decoded by
the engine's own baseline-JPEG codec). What is STUBBED (no codec libraries
in this container): COMPRESSED audio (MP3/AAC) and inter-frame video
(H.264/VP9) — `decode_audio_stub` / `sample_video_frames_stub` raise
NotImplementedError inside real, schema-correct mapInPandas stages unless
`fake=True`, marking the torchaudio/pyav swap-in point; the real operators
below route unparseable payloads to quarantine rows the same way
image_metadata does.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_META_SCHEMA = (
    "media_ref string, width int, height int, n_bytes long, format string, "
    "ink_ratio double, mean_intensity double"
)


def image_metadata(media: DataFrame) -> DataFrame:
    """(media_ref, bytes) → typed metadata + cheap content features
    (decode is real: the engine PNG codec)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..imaging import png as png_codec
        from ..kernels import enhance

        for pdf in batches:
            out = {k: [] for k in ("media_ref", "width", "height", "n_bytes",
                                   "format", "ink_ratio", "mean_intensity")}
            for ref, data in zip(pdf["media_ref"], pdf["bytes"]):
                raw = bytes(data)
                out["media_ref"].append(ref)
                out["n_bytes"].append(len(raw))
                try:
                    img = png_codec.decode_gray_auto(raw)
                    binary = enhance.binarize_otsu(img)
                    out["width"].append(int(img.shape[1]))
                    out["height"].append(int(img.shape[0]))
                    out["format"].append("jpeg" if raw[:2] == b"\xff\xd8" else "png")
                    out["ink_ratio"].append(round(float((binary > 0).mean()), 6))
                    out["mean_intensity"].append(round(float(img.mean()), 4))
                except Exception:  # noqa: BLE001 — quarantine-style row
                    out["width"].append(-1)
                    out["height"].append(-1)
                    out["format"].append("unknown")
                    out["ink_ratio"].append(0.0)
                    out["mean_intensity"].append(0.0)
            yield pd.DataFrame(out)

    return media.select("media_ref", "bytes").mapInPandas(gen, schema=IMAGE_META_SCHEMA)


def image_resize(media: DataFrame, max_dim: int) -> DataFrame:
    """(media_ref, bytes) → re-encoded PNG capped at max_dim (real)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..imaging import png as png_codec
        from ..kernels import enhance

        for pdf in batches:
            out = {"media_ref": [], "bytes": [], "width": [], "height": []}
            for ref, data in zip(pdf["media_ref"], pdf["bytes"]):
                img = enhance.cap_max_dimension(png_codec.decode_gray_auto(bytes(data)), max_dim)
                out["media_ref"].append(ref)
                out["bytes"].append(png_codec.encode_gray(img))
                out["width"].append(int(img.shape[1]))
                out["height"].append(int(img.shape[0]))
            yield pd.DataFrame(out)

    return media.select("media_ref", "bytes").mapInPandas(
        gen, schema="media_ref string, bytes binary, width int, height int")


AUDIO_FEATURES_SCHEMA = (
    "media_ref string, sample_rate int, n_samples long, duration_s double, "
    "rms double, zero_crossings long"
)


def decode_audio(media: DataFrame) -> DataFrame:
    """REAL audio path: (media_ref, bytes) → PCM-WAV features. The RIFF/WAVE
    parse (8/16-bit PCM, any channel count, mono-averaged) is
    imaging/wav.py — built on stdlib struct + numpy, so it is honest in this
    environment. Non-WAV / compressed payloads become quarantine rows
    (sample_rate = -1), the image_metadata convention; swap
    decode_audio_stub's body in production for those formats."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..imaging import wav as wav_codec

        for pdf in batches:
            out = {k: [] for k in ("media_ref", "sample_rate", "n_samples",
                                   "duration_s", "rms", "zero_crossings")}
            for ref, data in zip(pdf["media_ref"], pdf["bytes"]):
                out["media_ref"].append(ref)
                try:
                    wave, rate = wav_codec.decode_wav(bytes(data))
                    out["sample_rate"].append(int(rate))
                    out["n_samples"].append(int(wave.size))
                    out["duration_s"].append(round(wave.size / rate, 6))
                    out["rms"].append(round(float(np.sqrt((wave ** 2).mean())), 6)
                                      if wave.size else 0.0)
                    out["zero_crossings"].append(
                        int((np.diff(np.sign(wave)) != 0).sum()))
                except ValueError:
                    out["sample_rate"].append(-1)
                    out["n_samples"].append(0)
                    out["duration_s"].append(0.0)
                    out["rms"].append(0.0)
                    out["zero_crossings"].append(0)
            yield pd.DataFrame(out)

    return media.select("media_ref", "bytes").mapInPandas(
        gen, schema=AUDIO_FEATURES_SCHEMA)


def decode_audio_stub(media: DataFrame, fake: bool = False) -> DataFrame:
    """STUB: audio decode + feature extraction. No audio codec exists in this
    container; the mapInPandas stage, schema, and batch shape are real.
    `fake=True` emits a deterministic synthetic waveform derived from the
    payload bytes (tests the plumbing); fake=False raises on first batch,
    marking the torchaudio/soundfile swap-in point."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "audio decode requires an audio codec (torchaudio/soundfile) "
                    "not present in this environment — plumbing is real, swap "
                    "this function body in production")
            out = {k: [] for k in ("media_ref", "sample_rate", "n_samples",
                                   "duration_s", "rms", "zero_crossings")}
            for ref, data in zip(pdf["media_ref"], pdf["bytes"]):
                seed = int.from_bytes(bytes(data)[:8].ljust(8, b"\0"), "little") % (2**32)
                rng = np.random.default_rng(seed)
                wave = rng.normal(size=1600).astype(np.float32)
                out["media_ref"].append(ref)
                out["sample_rate"].append(16000)
                out["n_samples"].append(wave.size)
                out["duration_s"].append(round(wave.size / 16000.0, 6))
                out["rms"].append(round(float(np.sqrt((wave ** 2).mean())), 6))
                out["zero_crossings"].append(int((np.diff(np.sign(wave)) != 0).sum()))
            yield pd.DataFrame(out)

    return media.select("media_ref", "bytes").mapInPandas(gen, schema=AUDIO_FEATURES_SCHEMA)


VIDEO_FRAMES_SCHEMA = "media_ref string, frame_idx int, ts_s double, frame_png binary"


def sample_video_frames(media: DataFrame, fps: float = 1.0) -> DataFrame:
    """REAL video path: (media_ref, bytes) → sampled frames from MJPEG-AVI
    (one row per kept frame, flatMap-shaped). The container parse is
    imaging/avi.py and each frame decodes through the engine's own
    baseline-JPEG codec, then re-encodes as PNG for the frame column. The
    requested output `fps` downsamples the native rate (every
    round(native/fps)-th frame, always including frame 0). Unparseable or
    inter-frame-codec payloads yield zero rows (quarantine-by-absence);
    sample_video_frames_stub marks the pyav swap-in for those."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..imaging import avi as avi_codec
        from ..imaging import jpeg as jpeg_codec
        from ..imaging import png as png_codec

        for pdf in batches:
            out = {"media_ref": [], "frame_idx": [], "ts_s": [], "frame_png": []}
            for ref, data in zip(pdf["media_ref"], pdf["bytes"]):
                try:
                    frames, native_fps = avi_codec.decode_mjpeg_avi(bytes(data))
                except ValueError:
                    continue
                step = max(1, round((native_fps or fps) / fps))
                for i in range(0, len(frames), step):
                    try:
                        gray = jpeg_codec.decode_gray_jpeg(frames[i])
                    except ValueError:
                        continue
                    out["media_ref"].append(ref)
                    out["frame_idx"].append(i)
                    out["ts_s"].append(round(i / (native_fps or fps), 3))
                    out["frame_png"].append(png_codec.encode_gray(gray))
            yield pd.DataFrame(out)

    return media.select("media_ref", "bytes").mapInPandas(
        gen, schema=VIDEO_FRAMES_SCHEMA)


def sample_video_frames_stub(media: DataFrame, fps: float = 1.0, fake: bool = False) -> DataFrame:
    """STUB: video frame sampling (1 row per sampled frame — a flatMap-shaped
    mapInPandas). fake=True renders deterministic frames via the engine
    renderer; fake=False raises, marking the pyav/ffmpeg swap-in point."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "video decode requires pyav/ffmpeg not present in this "
                    "environment — plumbing is real, swap this function body")
            from ..imaging import png as png_codec
            from ..imaging.render import render_text_image

            out = {"media_ref": [], "frame_idx": [], "ts_s": [], "frame_png": []}
            import zlib

            for ref, data in zip(pdf["media_ref"], pdf["bytes"]):
                n_frames = 1 + (len(bytes(data)) % 3)
                for i in range(n_frames):
                    # crc32, not builtin hash(): str hashing is randomized
                    # per process (PYTHONHASHSEED) and would make fake
                    # frames differ across executors/runs
                    seed = zlib.crc32(str(ref).encode()) + i
                    img = render_text_image(f"frame {i} of {ref}"[:24], "plain",
                                            seed=seed)
                    out["media_ref"].append(ref)
                    out["frame_idx"].append(i)
                    out["ts_s"].append(round(i / fps, 3))
                    out["frame_png"].append(png_codec.encode_gray(img))
            yield pd.DataFrame(out)

    return media.select("media_ref", "bytes").mapInPandas(gen, schema=VIDEO_FRAMES_SCHEMA)


DHASH_SCHEMA = "media_ref string, dhash long, decode_ok boolean"


def image_dhash(media: DataFrame) -> DataFrame:
    """Perceptual difference-hash (dHash) per image — REAL pipeline end to
    end: the engine's own PNG/JPEG decode, the exact INTER_AREA resampler
    down to 8x9 gray, then the classic 64-bit horizontal-gradient
    signature (bit = right pixel strictly brighter than left; 8 rows x 8
    comparisons). Deterministic — every step is the repo's own exact
    arithmetic. Arrow-batched mapInPandas, pure per-row map, zero shuffle.

    Invariance calibrated on real renders: re-encoding the SAME page at
    JPEG q50/q75/q90 moves <=6 of the 64 bits, while different page text
    moves >=19 (measured floor; typically ~25) — so the hash finds the
    same document stored under different compression (exactly the mixed
    PNG/JPEG media-store case) without confusing distinct pages. Heavy
    geometric noise ("noisy" scenario) moves ~20 bits: dHash is a
    compression/resample invariant, NOT an augmentation invariant.

    No DuckDB oracle by design: the hash is pixel math over decoded
    rasters, outside SQL's reach — correctness is pinned by pytest
    (identical renders collide; PNG-vs-JPEG re-encodes of one page stay
    within hamming 6; different text does not), the same verification
    tier as the WAV/AVI decoders."""

    def gen(batches):
        import numpy as np

        from ..imaging import png as png_codec
        from ..kernels import enhance

        for pdf in batches:
            out = {"media_ref": [], "dhash": [], "decode_ok": []}
            for ref, data in zip(pdf["media_ref"], pdf["bytes"]):
                out["media_ref"].append(ref)
                try:
                    img = png_codec.decode_gray_auto(bytes(data))
                    small = enhance.resize_area(
                        img.astype(np.float64), 8, 9)
                    bits = (small[:, 1:] > small[:, :-1]).astype(np.uint64)
                    h = 0
                    for b in bits.ravel():
                        h = (h << 1) | int(b)
                    # two's-complement into signed int64 for the long col
                    if h >= 1 << 63:
                        h -= 1 << 64
                    out["dhash"].append(h)
                    out["decode_ok"].append(True)
                except Exception:  # noqa: BLE001 — quarantine row
                    out["dhash"].append(0)
                    out["decode_ok"].append(False)
            yield pd.DataFrame(out)

    return media.select("media_ref", "bytes").mapInPandas(
        gen, schema=DHASH_SCHEMA)


def image_neardup_pairs(media: DataFrame,
                        max_hamming: int = 6) -> DataFrame:
    """Perceptual image near-dup pairs: dHash signatures banded into four
    16-bit lanes; candidates meet on an EQUI-join per lane (the simhash64
    shape) and are verified by exact XOR popcount. Pigeonhole recall:
    hamming <= 3 over 4 lanes ALWAYS leaves a clean lane (recall 1.0);
    beyond 3 a pair is found iff its differing bits leave some lane
    untouched (at 6 bits spread worst-case 2+2+1+1 a pair can hide —
    raise to 8 lanes of 8 bits for recall-1.0 at hamming <= 7 at the cost
    of 2x candidate volume). Returns (ref_a, ref_b, hamming),
    ref_a < ref_b, distinct."""
    h = image_dhash(media).where(F.col("decode_ok"))
    lanes = [
        h.select(
            F.col("media_ref"), F.col("dhash"),
            F.lit(i).alias("lane"),
            (F.shiftrightunsigned(F.col("dhash"), 16 * i)
             .bitwiseAND(F.lit(0xFFFF))).alias("lane_val"))
        for i in range(4)
    ]
    banded = lanes[0]
    for ln in lanes[1:]:
        banded = banded.unionByName(ln)
    cand = (
        banded.alias("x").join(banded.alias("y"), ["lane", "lane_val"])
        .where(F.col("x.media_ref") < F.col("y.media_ref"))
        .select(F.col("x.media_ref").alias("ref_a"),
                F.col("y.media_ref").alias("ref_b"),
                F.col("x.dhash").alias("ha"),
                F.col("y.dhash").alias("hb"))
        .distinct()
    )
    return (
        cand.select(
            "ref_a", "ref_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
            .cast("long").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def image_neardup_clusters(media: DataFrame,
                           max_hamming: int = 6) -> DataFrame:
    """Media dedup end-to-end: dHash -> banded near-dup pairs ->
    connected components -> keeper flag. Returns one row per decodable
    image: (media_ref, cluster_id, keep) with cluster_id = the
    lexicographically smallest member ref (min-label components work
    unchanged on string ids) and keep = True exactly for that
    representative — the same keeper contract as the document dedup
    pipeline (dedup.exact_dedup / neardup_clusters), so a media store
    dedups with the identical downstream anti-join. Singleton images
    (no near-dup) self-cluster and are kept; undecodable rows are
    quarantined out by decode_ok upstream.

    Shape: pairs come from the 4x16-bit banded equi-join (see
    image_neardup_pairs); components from dedup.neardup_clusters
    (min-label propagation, localCheckpoint per round — near-dup image
    components are small cliques, so rounds ~ 2-3; swap in
    neardup_clusters_star for adversarial topologies). pytest tier,
    like the rest of the dHash family."""
    from .dedup import neardup_clusters

    pairs = image_neardup_pairs(media, max_hamming=max_hamming).select(
        F.col("ref_a").alias("doc_a"), F.col("ref_b").alias("doc_b"))
    clusters = (
        neardup_clusters(pairs)
        .select(F.col("doc_id").alias("media_ref"),
                F.col("cluster_id")))
    all_refs = (image_dhash(media).where(F.col("decode_ok"))
                .select("media_ref"))
    return all_refs.join(clusters, "media_ref", "left").select(
        "media_ref",
        F.coalesce("cluster_id", F.col("media_ref")).alias("cluster_id"),
        (F.coalesce("cluster_id", F.col("media_ref"))
         == F.col("media_ref")).alias("keep"),
    )
