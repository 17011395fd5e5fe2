"""Multimodal columns: image/audio/video as binary columns with REAL
codecs for every payload format the operators emit or read.

Every payload operator — the ``synth_*`` generators, the decoders and
profilers, the frame samplers and the fused synth→decode twins — runs
through ONE Arrow batch loop, :func:`_map_rows`: a per-row function over
(id[, payload bytes]) inside a single ``mapInPandas``.  The codecs
(:mod:`pigpen_spark.functions.codecs`) are pure zlib/struct/numpy
implementations of the public specs: PNG, baseline/progressive JPEG,
GIF, BMP and PCM-WAV decode to actual numbers; mp4, AVI and Matroska
demux MJPEG (AVI also raw-DIB) frames; mp4/WebM, MP3, Ogg, FLAC and
ADTS AAC profile at header speed — all oracle-checked end to end
(JPEG via the lossless block-constant subspace, see codecs.jpeg_encode).
Only inter-frame video codecs (H.264/HEVC/VP9) and exotic formats
remain stubs (``frame_sample`` / ``audio_features``, behind
``allow_stub``); ``decode_image_meta`` falls back to a deterministic
fake for unrecognized payloads.

At 100 TB: binary payloads ride in parquet binary columns (or are loaded
via ``spark.read.format("binaryFile")`` for raw object stores); decode
runs inside ``mapInPandas`` so each Arrow batch is decoded in-process with
zero driver involvement, and ``spark.sql.files.maxPartitionBytes`` bounds
per-task memory.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pigpen_spark.functions import codecs as C

#: Output schema of the image-metadata decode step.
IMAGE_META_SCHEMA = (
    "id long, n_bytes long, digest string, width int, height int, format string"
)


def _map_rows(src: DataFrame, row_fn, schema: str) -> DataFrame:
    """The one Arrow batch loop behind every payload operator.  ``src``
    holds ``id`` and optionally ``payload``; each row calls
    ``row_fn(id)`` or ``row_fn(id, payload_bytes)``, which returns one
    output row (a dict) or several (a list of dicts), and each Arrow
    batch comes back as one pandas frame of ``schema`` — per-batch
    Python cost is amortized over thousands of rows."""
    has_payload = "payload" in src.columns

    def work(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if has_payload:
                outs = (row_fn(int(rid), bytes(payload))
                        for rid, payload in zip(pdf["id"], pdf["payload"]))
            else:
                outs = (row_fn(int(rid)) for rid in pdf["id"])
            rows: list = []
            for out in outs:
                if isinstance(out, list):
                    rows.extend(out)
                else:
                    rows.append(out)
            yield pd.DataFrame(rows)

    return src.mapInPandas(work, schema=schema)


def _ids(df: DataFrame, id_col: str) -> DataFrame:
    return df.select(F.col(id_col).alias("id"))


def _payloads(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    return df.select(F.col(id_col).alias("id"), F.col(payload_col).alias("payload"))


def attach_binary_payload(df: DataFrame, src_col: str, out_col: str = "payload") -> DataFrame:
    """Materialize an opaque binary column (here: utf-8 bytes of a source
    column — stands in for image/audio bytes with identical plumbing)."""
    return df.withColumn(out_col, F.encode(F.col(src_col), "utf-8"))


def _fake_decode(data: bytes) -> tuple[int, int, str]:
    """Deterministic stand-in for an image decoder: derives (width,
    height, format) from the payload digest.  STUB — replace the body
    with PIL/libvips in a real deployment; the pipeline shape (Arrow
    batches through mapInPandas) is the real, tested part."""
    d = hashlib.md5(data).digest()
    width = 64 + d[0] % 192
    height = 64 + d[1] % 192
    fmt = ["png", "jpeg", "webp"][d[2] % 3]
    return width, height, fmt


def decode_image_meta(df: DataFrame, id_col: str, payload_col: str = "payload") -> DataFrame:
    """Decode image metadata from a binary column via mapInPandas.

    png/jpeg/gif/bmp headers are parsed for real (:func:`_image_header`);
    any other magic goes to :func:`_fake_decode`, whatever decoders the
    host has installed, so the output never depends on the host.
    Corrupt or truncated headers quarantine the row as ``corrupt``.

    Each Arrow batch is processed as one pandas DataFrame — per-batch
    python cost is amortized over thousands of rows.
    """
    return _map_rows(_payloads(df, id_col, payload_col), _image_meta_row,
                     IMAGE_META_SCHEMA)


def _image_header(data: bytes) -> tuple[int, int, str] | None:
    """REAL magic-byte header sniff shared by :func:`decode_image_meta`
    and the image-triage fixture: (width, height, format) for
    png/jpeg/gif/bmp, None for any other magic; truncated headers raise
    ValueError."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        # pure-stdlib IHDR parse (codecs.png_meta)
        w, h, _depth, _color = C.png_meta(data)
        return w, h, "png"
    if data[:2] == b"\xFF\xD8":
        # SOFn header parse — works for progressive streams the full
        # decoder refuses
        w, h, _nc = C.jpeg_meta(data)
        return w, h, "jpeg"
    if data[:4] == b"GIF8":
        # logical-screen descriptor + frame count (codecs.gif_meta walks
        # the block chain)
        w, h, _nf = C.gif_meta(data)
        return w, h, "gif"
    if data[:2] == b"BM":
        # BITMAPINFOHEADER parse
        w, h, _bpp = C.bmp_meta(data)
        return w, h, "bmp"
    return None


def _image_meta_row(rid: int, data: bytes) -> dict:
    try:
        w, h, fmt = _image_header(data) or _fake_decode(data)
    except ValueError:
        # corrupt/truncated payload: metadata profiling must quarantine
        # the row, not kill the Arrow batch
        w, h, fmt = -1, -1, "corrupt"
    return {
        "id": rid,
        "n_bytes": len(data),
        "digest": hashlib.md5(data).hexdigest(),
        "width": w, "height": h, "format": fmt,
    }


def frame_sample(df: DataFrame, id_col: str, payload_col: str = "payload",
                 every_n: int = 10, allow_stub: bool = False) -> DataFrame:
    """Video frame sampling — STUB for inter-frame codecs that need
    external libraries (H.264/HEVC/VP8/VP9/AV1 via `av`/ffmpeg): emits
    (id, frame_index) rows for the frames a decoder would keep, frame
    count FAKED from payload length.  The fake path is
    DEFAULT-UNREACHABLE: calling without ``allow_stub=True`` raises,
    pointing at the REAL decoders — GIF (:func:`frame_sample_gif`),
    MJPEG in mp4/AVI/Matroska (:func:`frame_sample_mp4` /
    :func:`frame_sample_avi` / :func:`frame_sample_webm`) all really
    decode in the same mapInPandas shape.  Production order of
    operations: triage with :func:`video_meta` (magic-byte dispatch, the
    pattern synth_video_meta pins) and route each container to its real
    decoder; only codecs outside the decodable set opt in here, and the
    fabricated frame counts stay confined to tests."""
    if not allow_stub:
        raise NotImplementedError(
            "frame_sample fabricates frame counts (inter-frame codecs need "
            "external decoders). Route real containers to frame_sample_gif/"
            "frame_sample_mp4/frame_sample_avi/frame_sample_webm via "
            "video_meta triage, or pass allow_stub=True for test fixtures.")
    n_frames = (F.octet_length(F.col(payload_col)) % 100 + 1).alias("n_frames")
    src = df.select(F.col(id_col).alias("id"), n_frames)
    return src.select(
        "id",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))).alias("frame_index"),
    )


def audio_features(df: DataFrame, id_col: str, payload_col: str = "payload",
                   allow_stub: bool = False) -> DataFrame:
    """Audio feature extraction — STUB behind import-guard (librosa
    absent); deterministic FAKE duration/sample-rate from payload bytes,
    same mapInPandas plumbing as decode_image_meta.  The fake path is
    DEFAULT-UNREACHABLE: calling without ``allow_stub=True`` raises,
    because every common format has a REAL path: PCM-WAV decodes fully
    (:func:`audio_features_wav`, :func:`audio_downsample`); MP3
    (:func:`audio_profile_mp3`), Ogg Opus/Vorbis
    (:func:`audio_profile_ogg`) and FLAC (:func:`audio_profile_flac`)
    all profile at header speed, as does ADTS AAC
    (:func:`audio_profile_aac`) — :func:`audio_profile_auto` IS that
    magic-byte dispatch as an operator.  The stub remains only for
    genuinely exotic payloads in test fixtures."""
    try:  # pragma: no cover
        import librosa  # noqa: F401
        raise NotImplementedError("librosa path: wire librosa.load on BytesIO")
    except ImportError:
        pass
    if not allow_stub:
        raise NotImplementedError(
            "audio_features fabricates duration/sample-rate. Use "
            "audio_profile_auto (wav/mp3/aac/ogg/flac all real) or "
            "audio_features_wav for full decode; pass allow_stub=True "
            "only for test fixtures.")
    return df.select(
        F.col(id_col).alias("id"),
        (F.octet_length(F.col(payload_col)).cast("double") / 16000.0).alias("duration_sec"),
        F.lit(16000).alias("sample_rate"),
    )


# ---------------------------------------------------------------------------
# REAL decode paths (pure-stdlib codecs — pigpen_spark.functions.codecs)
# ---------------------------------------------------------------------------
#
# The container has no PIL/librosa/av, but PNG, baseline JPEG, GIF and
# PCM-WAV are decodable from spec with zlib/struct/numpy (codecs.py), so
# the operators below are REAL end-to-end: bytes in, decoded numbers
# out, Arrow-batched through ``_map_rows``.  Container HEADERS parse for
# real across mp4 (box walk), AVI (RIFF) and WebM (EBML), and MJPEG
# tracks decode fully; only inter-frame codecs (H.264/HEVC/VP9/AV1)
# genuinely need external libraries and keep the frame_sample stub.

IMAGE_STATS_SCHEMA = (
    "id long, width int, height int, channels int, px_sum long, px_min int, px_max int"
)
THUMB_SCHEMA = "id long, t_width int, t_height int, t_px_sum long, thumb binary"
AUDIO_SCHEMA = (
    "id long, sample_rate int, n_channels int, n_samples long, "
    "duration_ms long, sample_sum long, peak int"
)


# -- per-id payload builders + per-payload row extractors -------------------
# Module-level so the unfused synth_*/decode functions AND the fused
# single-crossing variants below share one implementation of the
# generation formulas and decode paths.


def _png_payload(i: int) -> bytes:
    w, h, a = 8 + i % 16, 8 + (i // 3) % 16, i % 200
    x = np.arange(w)[None, :, None]
    y = np.arange(h)[:, None, None]
    c = np.arange(3)[None, None, :]
    arr = (a + x + y + c).astype(np.uint8)
    return C.png_encode(arr, filter_type=2 * (i % 2))


def _wav_payload(i: int, constant: bool = False) -> bytes:
    n = 100 + i % 50
    base = (i % 100) * 10
    ramp = 0 if constant else (np.arange(n) % 50)
    s = (base + ramp + np.zeros(n, dtype=np.int64)).astype(np.int16)
    return C.wav_encode(s, 8000)


def _gif_payload(i: int) -> bytes:
    w, h, a = 6 + i % 8, 6 + (i // 2) % 8, i % 200
    x = np.arange(w)[None, :]
    y = np.arange(h)[:, None]
    frames = [(a + f + x + y).astype(np.uint8) for f in range(1 + i % 5)]
    return C.gif_encode(frames)


def _block_image(bw: int, bh: int, a: int) -> np.ndarray:
    """bh × bw grayscale 8x8 blocks, block (bx, by) constant at a + bx +
    by: all-zero AC and integer DC at quant 1, JPEG's lossless subspace."""
    blocks = a + np.arange(bw)[None, :] + np.arange(bh)[:, None]
    return np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1).astype(np.uint8)


def _jpeg_payload(i: int) -> bytes:
    bw, bh, a = 1 + i % 3, 1 + (i // 2) % 3, i % 200
    return C.jpeg_encode(_block_image(bw, bh, a))


def _jpeg_payload_progressive(i: int) -> bytes:
    """Same block-ramp image as :func:`_jpeg_payload`, written as a
    5-scan PROGRESSIVE stream (SOF2: DC successive approximation + AC
    spectral selection + AC refinement) — identical quantized
    coefficients, so the closed-form pixel sums are the same and any
    progressive-path bug (EOBRUN, correction bits, point transforms)
    breaks the oracle hash."""
    bw, bh, a = 1 + i % 3, 1 + (i // 2) % 3, i % 200
    return C.jpeg_encode_progressive(_block_image(bw, bh, a))


def _mp4_payload(i: int) -> bytes:
    dur = 10_000 + (i * 37) % 50_000
    return C.mp4_encode_skeleton(dur, [
        {"handler": "vide", "codec": "avc1" if i % 2 == 0 else "hev1",
         "width": 320 + 16 * (i % 20), "height": 240 + 16 * (i % 10),
         "n_samples": 24 * dur // 1000, "track_duration_ms": dur},
        {"handler": "soun", "codec": "mp4a",
         "n_samples": 43 * dur // 1000, "track_duration_ms": dur},
    ])


def _image_stats_row(rid: int, data: bytes) -> dict:
    # format sniff: PNG signature vs JPEG SOI — both REAL decoders
    if data[:2] == b"\xFF\xD8":
        arr = C.jpeg_decode(data)
    else:
        arr = C.png_decode(data)
    return {
        "id": rid,
        "width": arr.shape[1], "height": arr.shape[0],
        "channels": arr.shape[2],
        "px_sum": int(arr.sum(dtype="int64")),
        "px_min": int(arr.min()), "px_max": int(arr.max()),
    }


def _thumbnail_row(rid: int, data: bytes, factor: int) -> dict:
    arr = C.png_decode(data)[::factor, ::factor]
    return {
        "id": rid,
        "t_width": arr.shape[1], "t_height": arr.shape[0],
        "t_px_sum": int(arr.sum(dtype="int64")),
        "thumb": C.png_encode(arr),
    }


def _thumb_row(rid: int, data: bytes, factor: int) -> dict:
    """decode → ÷factor subsample → re-encode → decode AGAIN: the pixel
    sum must survive the full loop byte-exactly."""
    arr = C.png_decode(data)[::factor, ::factor]
    again = C.png_decode(C.png_encode(arr))
    return {
        "id": rid,
        "t_width": again.shape[1], "t_height": again.shape[0],
        "t_px_sum": int(again.sum(dtype="int64")),
    }


def _audio_stats_row(rid: int, data: bytes) -> dict:
    rate, samples = C.wav_decode(data)
    n = samples.shape[0]
    return {
        "id": rid,
        "sample_rate": rate, "n_channels": samples.shape[1],
        "n_samples": n,
        "duration_ms": n * 1000 // rate,
        "sample_sum": int(samples.sum(dtype="int64")),
        "peak": int(abs(samples).max()) if n else 0,
    }


def _downsample_row(rid: int, data: bytes, factor: int, antialias: bool) -> dict:
    rate, samples = C.wav_decode(data)
    mono = samples.astype(np.int64).sum(axis=1) // samples.shape[1]
    if antialias:
        dec = C.fir_decimate(mono, factor)
    else:
        dec = mono[::factor].astype(np.int16)
    wav = C.wav_encode(dec, rate // factor)
    rate2, rt = C.wav_decode(wav)
    return {
        "id": rid, "rate_out": rate2, "n_out": int(rt.shape[0]),
        "sample_sum_out": int(rt.sum(dtype="int64")), "wav": wav,
    }


def _frame_rows(rid: int, data: bytes, every_n: int, demux) -> list[dict]:
    """(id, frame_index, f_px_sum) for every ``every_n``-th frame that
    ``demux(data) -> (width, height, frames)`` decodes."""
    _w, _h, frames = demux(data)
    return [
        {"id": rid, "frame_index": f,
         "f_px_sum": int(frames[f].sum(dtype="int64"))}
        for f in range(0, len(frames), every_n)
    ]


def _video_meta_row(rid: int, data: bytes) -> dict:
    try:
        # container sniff: EBML magic → Matroska/WebM walk, else ISO-BMFF
        m = (C.webm_meta(data) if data[:4] == b"\x1aE\xdf\xa3"
             else C.mp4_meta(data))
        vid = next((t for t in m["tracks"] if t["handler"] == "vide"), None)
        return {
            "id": rid, "duration_ms": m["duration_ms"],
            "n_tracks": m["n_tracks"],
            "width": vid["width"] if vid else 0,
            "height": vid["height"] if vid else 0,
            "codec": vid["codec"] if vid else "",
            "n_frames": vid["n_samples"] if vid else 0,
        }
    except ValueError:
        return {"id": rid, "duration_ms": -1, "n_tracks": -1,
                "width": -1, "height": -1, "codec": "corrupt",
                "n_frames": -1}


def synth_png(df: DataFrame, id_col: str, out_col: str = "payload") -> DataFrame:
    """Deterministic synthetic PNG payloads (the corpus ships no binary
    columns): image i is (8 + i%16) × (8 + (i÷3)%16) RGB with pixel
    (x, y, c) = i%200 + x + y + c — values stay < 256 by construction, so
    downstream pixel sums have CLOSED FORMS an SQL oracle can compute
    without decoding.  Alternating scanline filter (None/Up by parity)
    exercises both encoder paths."""
    return _map_rows(_ids(df, id_col),
                     lambda i: {"id": i, out_col: _png_payload(i)},
                     f"id long, {out_col} binary")


def image_stats(df: DataFrame, id_col: str, payload_col: str = "payload") -> DataFrame:
    """REAL PNG decode → per-image pixel statistics: (width, height,
    channels, px_sum, px_min, px_max).  Integer outputs, so results are
    engine-portable and oracle-checkable; mean = px_sum / (w·h·ch) is one
    division away for callers.  Arrow batches through mapInPandas — one
    Python crossing per ~10k rows, numpy per image."""
    return _map_rows(_payloads(df, id_col, payload_col),
                     _image_stats_row, IMAGE_STATS_SCHEMA)


def image_thumbnail(df: DataFrame, id_col: str, payload_col: str = "payload",
                    factor: int = 2) -> DataFrame:
    """REAL resize pipeline: PNG decode → nearest-neighbor ÷``factor``
    subsample → PNG re-encode, plus the thumbnail's integer pixel sum so
    a no-decode oracle can verify the whole decode→resize→encode→decode
    loop.  The canonical multimodal preprocessing shape: per-row numpy
    inside Arrow batches, payloads never leave the executor."""
    if factor < 1:
        raise ValueError(f"image_thumbnail: factor must be >= 1, got {factor}")
    return _map_rows(_payloads(df, id_col, payload_col),
                     lambda i, b: _thumbnail_row(i, b, factor), THUMB_SCHEMA)


def synth_wav(df: DataFrame, id_col: str, out_col: str = "payload",
              constant: bool = False) -> DataFrame:
    """Deterministic synthetic PCM16 WAV payloads: clip i has
    100 + i%50 mono samples at 8 kHz, sample j = (i%100)·10 + j%50 —
    bounded far below int16, so sums have closed forms for the oracle.
    ``constant=True`` drops the j%50 ramp (every sample = (i%100)·10) —
    the signal class the anti-aliased resampler passes EXACTLY, which is
    what its oracle query needs."""
    return _map_rows(_ids(df, id_col),
                     lambda i: {"id": i, out_col: _wav_payload(i, constant)},
                     f"id long, {out_col} binary")


def audio_features_wav(df: DataFrame, id_col: str,
                       payload_col: str = "payload") -> DataFrame:
    """REAL WAV decode → (sample_rate, n_channels, n_samples,
    duration_ms, sample_sum, peak).  duration_ms is exact integer
    division (n·1000 div rate); sample_sum/peak are int64/int32 — all
    engine-portable.  Supersedes the stub :func:`audio_features` for PCM
    WAV payloads (the stub remains for unknown formats)."""
    return _map_rows(_payloads(df, id_col, payload_col),
                     _audio_stats_row, AUDIO_SCHEMA)


FRAME_STATS_SCHEMA = "id long, frame_index int, f_px_sum long"


def synth_gif(df: DataFrame, id_col: str, out_col: str = "payload") -> DataFrame:
    """Deterministic synthetic multi-frame GIFs: clip i has 1 + i%5
    frames on a (6 + i%8) × (6 + (i÷2)%8) canvas, frame f pixel (x, y) =
    i%200 + f + x + y (grayscale palette; bounded < 256, so per-frame
    pixel sums have closed forms)."""
    return _map_rows(_ids(df, id_col),
                     lambda i: {"id": i, out_col: _gif_payload(i)},
                     f"id long, {out_col} binary")


def frame_sample_gif(df: DataFrame, id_col: str, payload_col: str = "payload",
                     every_n: int = 2) -> DataFrame:
    """REAL video-style frame sampling: decode a multi-frame GIF with the
    pure-stdlib LZW codec (:mod:`pigpen_spark.functions.codecs`) and emit
    every ``every_n``-th frame's index and integer pixel sum — the frame-
    subsampling stage of a video curation pipeline, on a container format
    that actually decodes in this environment.  Supersedes the
    :func:`frame_sample` stub for GIF payloads; other containers
    (mp4/webm) still need external codecs and keep the stub."""
    if every_n < 1:
        raise ValueError(f"frame_sample_gif: every_n must be >= 1, got {every_n}")
    return _map_rows(_payloads(df, id_col, payload_col),
                     lambda i, b: _frame_rows(i, b, every_n, C.gif_decode),
                     FRAME_STATS_SCHEMA)


def synth_jpeg(df: DataFrame, id_col: str, out_col: str = "payload") -> DataFrame:
    """Deterministic synthetic baseline JPEGs in the codec's LOSSLESS
    subspace: image i is (1 + i%3) × (1 + (i÷2)%3) BLOCKS of 8x8, block
    (bx, by) constant at i%200 + bx + by — all-zero AC + integer DC at
    quant 1, so the lossy format round-trips bit-exactly and pixel sums
    have closed forms."""
    return _map_rows(_ids(df, id_col),
                     lambda i: {"id": i, out_col: _jpeg_payload(i)},
                     f"id long, {out_col} binary")


DOWNSAMPLE_SCHEMA = ("id long, rate_out int, n_out long, sample_sum_out long, "
                     "wav binary")


def audio_downsample(df: DataFrame, id_col: str, payload_col: str = "payload",
                     factor: int = 2, antialias: bool = False) -> DataFrame:
    """REAL audio preprocessing pipeline — the WAV twin of
    :func:`image_thumbnail`: decode PCM16, decimate by ``factor`` (every
    factor-th frame; channels mixed to mono first with FLOOR-division
    mean — ``sum // n_channels`` rounds toward -inf, so a frame whose
    channel sum is negative mixes one LSB below truncation-based
    conventions; floor is deterministic and engine-portable, which is
    what the oracle needs), re-encode at rate/factor, and decode AGAIN
    for the output stats — so the returned integers verify the full
    decode→resample→encode→decode loop.

    ``antialias=False`` (default): nearest-frame decimation — integer-
    exact, engine-portable, adequate for feature-extraction-grade
    downsampling.  ``antialias=True``: Hamming-windowed-sinc FIR low-
    pass before decimation (:func:`pigpen_spark.functions.codecs.
    fir_decimate`) — content above the new Nyquist is attenuated instead
    of aliased; constant signals still pass exactly (unit-DC-gain taps +
    edge-replicate padding), which is what the oracle query checks."""
    if factor < 1:
        raise ValueError(f"audio_downsample: factor must be >= 1, got {factor}")
    return _map_rows(_payloads(df, id_col, payload_col),
                     lambda i, b: _downsample_row(i, b, factor, antialias),
                     DOWNSAMPLE_SCHEMA)


VIDEO_META_SCHEMA = ("id long, duration_ms long, n_tracks int, width int, "
                     "height int, codec string, n_frames long")


def synth_mp4(df: DataFrame, id_col: str, out_col: str = "payload") -> DataFrame:
    """Deterministic synthetic mp4 moov skeletons: clip i runs
    10000 + (i·37)%50000 ms at 24 fps with a (320+16·(i%20)) ×
    (240+16·(i%10)) avc1/hev1 video track (codec by parity) and an mp4a
    audio track — every field a closed-form function of i, so the
    profiling oracle never parses anything."""
    return _map_rows(_ids(df, id_col),
                     lambda i: {"id": i, out_col: _mp4_payload(i)},
                     f"id long, {out_col} binary")


def video_meta(df: DataFrame, id_col: str, payload_col: str = "payload") -> DataFrame:
    """REAL mp4 container profiling: ISO-BMFF box walk (codecs.mp4_meta)
    over binary payloads — duration, track count, first video track's
    geometry/codec/sample count.  This is the corpus-profiling HALF of
    the video story done for real (header-speed, no entropy decode);
    frame DECODE stays with :func:`frame_sample`'s stub for mp4 and the
    real :func:`frame_sample_gif` for GIF.  Corrupt payloads quarantine
    as (-1, …, "corrupt") rows — the batch survives."""
    return _map_rows(_payloads(df, id_col, payload_col),
                     _video_meta_row, VIDEO_META_SCHEMA)


# ---------------------------------------------------------------------------
# FUSED synth→decode variants (round 4)
# ---------------------------------------------------------------------------
#
# Every operator in this module is one :func:`_map_rows` call; the fused
# forms differ only in their source and row function.  The unfused forms
# chain two (thumb: three) ``_map_rows`` stages — payload bytes cross the
# JVM↔Python Arrow boundary once per stage, and the whole chain inherits
# the scan's partitioning (documents.parquet is ONE file at bench scale →
# ONE task → single-threaded codec work).  ``_fused_synth`` fixes both:
#
# - its source is the SLIM id column (8 bytes/row) repartitioned to
#   defaultParallelism with an explicit partition count — explicit so
#   AQE's size-based coalescing (which sees only kilobytes of ids and
#   would collapse the CPU-bound stage back to one task) cannot undo the
#   fan-out;
# - its row function runs synthesize→encode→decode, so payloads are
#   built and read inside ONE ``_map_rows`` crossing and never cross a
#   process boundary at all.
#
# Measured at sf0.1 (5000 docs, local[32]): ext_frame_sample_gif
# 2.87 s → 0.59 s warm, ext_image_decode_jpeg 1.71 s → ~0.4 s.  At
# 100 TB the same shape holds: decode parallelism comes from the id
# fan-out, payload bytes stay executor-local, and the Arrow batch size
# bounds per-task memory.  REAL payload corpora (payloads already in
# parquet) skip the synth half and use the unfused decode operators,
# whose scan partitioning is the object store's; the unfused ``synth_*``
# generators stay as the references the fused twins are tested against.


def _fused_synth(df: DataFrame, id_col: str, row_fn, schema: str) -> DataFrame:
    """One-crossing synth→decode: ``row_fn(i) -> dict | list[dict]``."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return _map_rows(_ids(df, id_col).repartition(n, F.col("id")), row_fn, schema)


def synth_image_stats(df: DataFrame, id_col: str, fmt: str = "png") -> DataFrame:
    """Fused synth→encode→decode→stats for PNG or baseline JPEG — same
    output as synth_png/synth_jpeg piped through image_stats."""
    if fmt not in ("png", "jpeg", "jpeg_progressive"):
        raise ValueError(
            f"synth_image_stats: fmt must be png|jpeg|jpeg_progressive, got {fmt}")
    payload = {"png": _png_payload, "jpeg": _jpeg_payload,
               "jpeg_progressive": _jpeg_payload_progressive}[fmt]
    return _fused_synth(
        df, id_col, lambda i: _image_stats_row(i, payload(i)),
        IMAGE_STATS_SCHEMA,
    )


def synth_thumb_stats(df: DataFrame, id_col: str, factor: int = 2) -> DataFrame:
    """Fused synth→decode→subsample→re-encode→decode: same numbers as
    synth_png → image_thumbnail → image_stats (the full resize loop)."""
    if factor < 1:
        raise ValueError(f"synth_thumb_stats: factor must be >= 1, got {factor}")
    return _fused_synth(
        df, id_col, lambda i: _thumb_row(i, _png_payload(i), factor),
        "id long, t_width int, t_height int, t_px_sum long",
    )


def synth_audio_stats(df: DataFrame, id_col: str,
                      constant: bool = False) -> DataFrame:
    """Fused synth→encode→decode→features for PCM16 WAV."""
    return _fused_synth(
        df, id_col, lambda i: _audio_stats_row(i, _wav_payload(i, constant)),
        AUDIO_SCHEMA,
    )


def synth_audio_downsample_stats(df: DataFrame, id_col: str, factor: int = 2,
                                 antialias: bool = False,
                                 constant: bool = False) -> DataFrame:
    """Fused synth→decode→decimate→re-encode→decode (stats only — the
    resampled wav bytes stay executor-local)."""
    if factor < 1:
        raise ValueError(
            f"synth_audio_downsample_stats: factor must be >= 1, got {factor}")

    def row(i: int) -> dict:
        r = _downsample_row(i, _wav_payload(i, constant), factor, antialias)
        return {k: r[k] for k in ("id", "rate_out", "n_out", "sample_sum_out")}

    return _fused_synth(
        df, id_col, row,
        "id long, rate_out int, n_out long, sample_sum_out long",
    )


def synth_frame_stats_gif(df: DataFrame, id_col: str,
                          every_n: int = 2) -> DataFrame:
    """Fused synth→LZW-encode→decode→frame-sample for multi-frame GIFs."""
    if every_n < 1:
        raise ValueError(
            f"synth_frame_stats_gif: every_n must be >= 1, got {every_n}")
    return _fused_synth(
        df, id_col, lambda i: _frame_rows(i, _gif_payload(i), every_n, C.gif_decode),
        FRAME_STATS_SCHEMA,
    )


def synth_video_meta(df: DataFrame, id_col: str) -> DataFrame:
    """Fused synth→ISO-BMFF box walk for mp4 skeletons."""
    return _fused_synth(
        df, id_col, lambda i: _video_meta_row(i, _mp4_payload(i)),
        VIDEO_META_SCHEMA,
    )


# ---------------------------------------------------------------------------
# REAL video frame decode: Motion-JPEG in ISO-BMFF (round 4)
# ---------------------------------------------------------------------------
#
# mp4/webm carrying H.264/HEVC/VP9 genuinely need external codecs and
# keep the import-guarded stub (frame_sample).  MJPEG does not: every
# sample is a complete baseline JPEG, so codecs.mp4_frames walks the
# real sample tables (stsc×stco×stsz) and reuses the baseline-JPEG
# decoder — the one real, spec-simple video codec this container can
# decode end to end (VERDICT r3 next #5).


def _mjpeg_payload(i: int) -> bytes:
    """Synthetic MJPEG clip i: 1 + i%4 frames of (1+i%3)×(1+(i//2)%3)
    8x8 blocks, block (bx, by) of frame f constant at i%150 + f + bx +
    by — inside JPEG's lossless subspace, so every frame round-trips
    bit-exactly and per-frame pixel sums have closed forms."""
    bw, bh, a = 1 + i % 3, 1 + (i // 2) % 3, i % 150
    samples = []
    for f in range(1 + i % 4):
        samples.append(C.jpeg_encode(_block_image(bw, bh, a + f)))
    return C.mp4_encode_mjpeg(samples, bw * 8, bh * 8, fps=24)


def frame_sample_mp4(df: DataFrame, id_col: str, payload_col: str = "payload",
                     every_n: int = 2) -> DataFrame:
    """REAL mp4 frame sampling for MJPEG tracks: demux through the
    sample tables, JPEG-decode every ``every_n``-th frame, emit its
    index and integer pixel sum — the sibling of :func:`frame_sample_gif`
    for the ISO-BMFF container.  Non-MJPEG mp4 payloads raise (use
    :func:`video_meta` to triage codecs first, which is the production
    order of operations anyway)."""
    if every_n < 1:
        raise ValueError(f"frame_sample_mp4: every_n must be >= 1, got {every_n}")
    return _map_rows(_payloads(df, id_col, payload_col),
                     lambda i, b: _frame_rows(i, b, every_n, C.mp4_frames),
                     FRAME_STATS_SCHEMA)


def synth_mjpeg(df: DataFrame, id_col: str, out_col: str = "payload") -> DataFrame:
    """Deterministic synthetic MJPEG-in-mp4 payloads (see _mjpeg_payload)."""
    return _map_rows(_ids(df, id_col),
                     lambda i: {"id": i, out_col: _mjpeg_payload(i)},
                     f"id long, {out_col} binary")


def synth_frame_stats_mp4(df: DataFrame, id_col: str,
                          every_n: int = 2) -> DataFrame:
    """Fused synth→JPEG-encode→BMFF-mux→demux→decode→frame-sample."""
    if every_n < 1:
        raise ValueError(
            f"synth_frame_stats_mp4: every_n must be >= 1, got {every_n}")
    return _fused_synth(
        df, id_col, lambda i: _frame_rows(i, _mjpeg_payload(i), every_n, C.mp4_frames),
        FRAME_STATS_SCHEMA,
    )


# ---------------------------------------------------------------------------
# REAL video frame decode #2: RIFF-AVI (uncompressed DIB) (round 4)
# ---------------------------------------------------------------------------
#
# The second real container next to ISO-BMFF: codecs.avi_frames decodes
# '00db' raw-DIB frames (bottom-up BGR, the container's native form) and
# '00dc' MJPEG chunks.  The synthetic corpus uses the DIB path so the
# two containers exercise DIFFERENT decode machinery (raw bitmap layout
# vs sample-table demux + JPEG entropy decode).


def _avi_payload(i: int) -> bytes:
    """Synthetic uncompressed AVI clip i: 1 + i%4 frames of
    (4 + i%5)×(3 + (i//2)%4) RGB pixels, pixel (y, x, c) of frame f =
    i%100 + f + x + y + c (max 99+3+8+6+2 < 256: no wrap) — the pixel
    sum has the closed form the oracle predicts without decoding."""
    w, h, a = 4 + i % 5, 3 + (i // 2) % 4, i % 100
    frames = []
    for f in range(1 + i % 4):
        px = (a + f
              + np.arange(w)[None, :, None]
              + np.arange(h)[:, None, None]
              + np.arange(3)[None, None, :])
        frames.append(px.astype(np.uint8))
    return C.avi_encode_dib(frames, fps=12)


def frame_sample_avi(df: DataFrame, id_col: str, payload_col: str = "payload",
                     every_n: int = 2) -> DataFrame:
    """REAL AVI frame sampling (DIB or MJPG streams): decode every
    ``every_n``-th frame, emit (id, frame_index, f_px_sum) — the RIFF
    sibling of :func:`frame_sample_mp4`; other codecs raise."""
    if every_n < 1:
        raise ValueError(f"frame_sample_avi: every_n must be >= 1, got {every_n}")
    return _map_rows(_payloads(df, id_col, payload_col),
                     lambda i, b: _frame_rows(i, b, every_n, C.avi_frames),
                     FRAME_STATS_SCHEMA)


def synth_avi(df: DataFrame, id_col: str, out_col: str = "payload") -> DataFrame:
    """Deterministic synthetic uncompressed-AVI payloads (see _avi_payload)."""
    return _map_rows(_ids(df, id_col),
                     lambda i: {"id": i, out_col: _avi_payload(i)},
                     f"id long, {out_col} binary")


def synth_frame_stats_avi(df: DataFrame, id_col: str,
                          every_n: int = 2) -> DataFrame:
    """Fused synth→DIB-mux→demux→decode→frame-sample (one crossing)."""
    if every_n < 1:
        raise ValueError(
            f"synth_frame_stats_avi: every_n must be >= 1, got {every_n}")
    return _fused_synth(
        df, id_col, lambda i: _frame_rows(i, _avi_payload(i), every_n, C.avi_frames),
        FRAME_STATS_SCHEMA,
    )


def _webm_payload(i: int) -> bytes:
    """Synthetic WebM skeleton i: duration 10000 + (i·41)%40000 ms,
    (640 + 16·(i%10)) × (360 + 16·(i%6)) V_VP9/V_AV1 video (codec by
    parity) at 25 fps + an A_OPUS audio track — every field closed-form
    in i."""
    dur = 10_000 + (i * 41) % 40_000
    return C.webm_encode_skeleton(dur, [
        {"handler": "vide", "codec": "V_VP9" if i % 2 == 0 else "V_AV1",
         "width": 640 + 16 * (i % 10), "height": 360 + 16 * (i % 6),
         "fps": 25},
        {"handler": "soun", "codec": "A_OPUS"},
    ])


def synth_webm(df: DataFrame, id_col: str, out_col: str = "payload") -> DataFrame:
    """Deterministic synthetic WebM payloads (see _webm_payload)."""
    return _map_rows(_ids(df, id_col),
                     lambda i: {"id": i, out_col: _webm_payload(i)},
                     f"id long, {out_col} binary")


def synth_video_meta_webm(df: DataFrame, id_col: str) -> DataFrame:
    """Fused synth→EBML walk for WebM skeletons (video_meta dispatches
    on the container magic, so mixed mp4/webm corpora profile through
    ONE operator)."""
    return _fused_synth(
        df, id_col, lambda i: _video_meta_row(i, _webm_payload(i)),
        VIDEO_META_SCHEMA,
    )


def _webm_mjpeg_payload(i: int) -> bytes:
    """Synthetic MJPEG-in-Matroska clip i: 1 + (i//3)%4 frames of
    (1+(i//2)%3)×(1+i%3) 8x8 blocks (geometry/count phases deliberately
    DIFFERENT from _mjpeg_payload so the two containers' fixtures stay
    disjoint), block (bx, by) of frame f constant at (i·7)%140 + f + bx
    + by — JPEG's lossless subspace, closed-form per-frame pixel sums.
    cluster_len=2 so clips with 3-4 frames span MULTIPLE Clusters and
    the demuxer's cluster+block timecode combination is on the hash."""
    bw, bh, a = 1 + (i // 2) % 3, 1 + i % 3, (i * 7) % 140
    samples = []
    for f in range(1 + (i // 3) % 4):
        samples.append(C.jpeg_encode(_block_image(bw, bh, a + f)))
    return C.webm_encode_mjpeg(samples, bw * 8, bh * 8, fps=24, cluster_len=2)


def frame_sample_webm(df: DataFrame, id_col: str, payload_col: str = "payload",
                      every_n: int = 2) -> DataFrame:
    """REAL Matroska frame sampling for V_MJPEG tracks: walk Clusters'
    SimpleBlocks/Blocks, JPEG-decode every ``every_n``-th frame in
    timecode order, emit (id, frame_index, f_px_sum) — the third
    container next to :func:`frame_sample_mp4` / :func:`frame_sample_avi`.
    VP8/VP9/AV1 payloads raise (triage codecs with :func:`video_meta`
    first)."""
    if every_n < 1:
        raise ValueError(f"frame_sample_webm: every_n must be >= 1, got {every_n}")
    return _map_rows(_payloads(df, id_col, payload_col),
                     lambda i, b: _frame_rows(i, b, every_n, C.webm_frames),
                     FRAME_STATS_SCHEMA)


def synth_webm_mjpeg(df: DataFrame, id_col: str, out_col: str = "payload") -> DataFrame:
    """Deterministic synthetic MJPEG-in-Matroska payloads
    (see _webm_mjpeg_payload)."""
    return _map_rows(_ids(df, id_col),
                     lambda i: {"id": i, out_col: _webm_mjpeg_payload(i)},
                     f"id long, {out_col} binary")


def synth_frame_stats_webm(df: DataFrame, id_col: str,
                           every_n: int = 2) -> DataFrame:
    """Fused synth→JPEG-encode→Matroska-mux→demux→decode→frame-sample."""
    if every_n < 1:
        raise ValueError(
            f"synth_frame_stats_webm: every_n must be >= 1, got {every_n}")
    return _fused_synth(
        df, id_col, lambda i: _frame_rows(i, _webm_mjpeg_payload(i), every_n, C.webm_frames),
        FRAME_STATS_SCHEMA,
    )


# ---------------------------------------------------------------------------
# MP3 stream profiling (header-walk; audio sibling of the container walks)
# ---------------------------------------------------------------------------

MP3_META_SCHEMA = ("id long, n_frames long, sample_rate int, duration_ms long, "
                   "bitrate_kbps_min int, bitrate_kbps_max int, vbr boolean")


def _mp3_payload(i: int) -> bytes:
    """Synthetic MP3 skeleton i: 20 + i%30 MPEG-1 L3 frames at rate
    index i%3, frames alternating between bitrate indices 9 + i%5 and
    9 + (i//5)%5 — every profiled field closed-form in i."""
    n = 20 + i % 30
    a, b = 9 + i % 5, 9 + (i // 5) % 5
    return C.mp3_encode_skeleton(n, i % 3, [a if f % 2 == 0 else b
                                            for f in range(n)])


def _mp3_meta_row(rid: int, data: bytes) -> dict:
    m = C.mp3_meta(data)
    return {"id": rid, "n_frames": m["n_frames"],
            "sample_rate": m["sample_rate"], "duration_ms": m["duration_ms"],
            "bitrate_kbps_min": m["bitrate_kbps_min"],
            "bitrate_kbps_max": m["bitrate_kbps_max"], "vbr": m["vbr"]}


def audio_profile_mp3(df: DataFrame, id_col: str,
                      payload_col: str = "payload") -> DataFrame:
    """MP3 stream profiling over binary payloads: the real frame-header
    chain walk (ID3v2 skip, per-frame size arithmetic) at header speed —
    the audio sibling of video_meta; PCM-WAV stays the decode-real
    path."""
    return _map_rows(_payloads(df, id_col, payload_col),
                     _mp3_meta_row, MP3_META_SCHEMA)


def synth_mp3(df: DataFrame, id_col: str, out_col: str = "payload") -> DataFrame:
    """Deterministic synthetic MP3 frame chains (see _mp3_payload)."""
    return _map_rows(_ids(df, id_col),
                     lambda i: {"id": i, out_col: _mp3_payload(i)},
                     f"id long, {out_col} binary")


def synth_audio_profile_mp3(df: DataFrame, id_col: str) -> DataFrame:
    """Fused synth→frame-chain walk (one Arrow crossing, id fan-out)."""
    return _fused_synth(
        df, id_col, lambda i: _mp3_meta_row(i, _mp3_payload(i)),
        MP3_META_SCHEMA,
    )


MP3_VBR_SCHEMA = ("id long, method string, n_frames_fast long, "
                  "duration_ms_fast long, n_frames_walk long, "
                  "duration_ms_walk long, vbr boolean")


def _mp3_vbr_payload(i: int) -> bytes:
    """Synthetic VBR MP3 i with a REAL Xing (even i) / VBRI (odd i)
    header frame: 15 + i%20 music frames at rate index i%3, bitrates
    alternating indices 9 + i%5 / 9 + (i//3)%5 (phases differ from
    _mp3_payload so the two MP3 fixtures stay disjoint); the header
    frame reuses the even-frame bitrate index so the chain walk's
    bitrate envelope keeps a clean closed form."""
    n = 15 + i % 20
    a, b = 9 + i % 5, 9 + (i // 3) % 5
    return C.mp3_encode_vbr(
        n, i % 3, [a if f % 2 == 0 else b for f in range(n)],
        header="xing" if i % 2 == 0 else "vbri", header_bitrate_idx=a)


def _mp3_vbr_row(rid: int, data: bytes) -> dict:
    fast = C.mp3_meta_fast(data)
    walk = C.mp3_meta(data)
    return {"id": rid, "method": fast["method"],
            "n_frames_fast": fast["n_frames"],
            "duration_ms_fast": fast["duration_ms"],
            "n_frames_walk": walk["n_frames"],
            "duration_ms_walk": walk["duration_ms"], "vbr": walk["vbr"]}


def synth_audio_profile_vbr(df: DataFrame, id_col: str) -> DataFrame:
    """Fused synth→(Xing/VBRI fast path + chain-walk verify)."""
    return _fused_synth(
        df, id_col, lambda i: _mp3_vbr_row(i, _mp3_vbr_payload(i)),
        MP3_VBR_SCHEMA,
    )


# ---------------------------------------------------------------------------
# Ogg (Opus/Vorbis) page walk + FLAC STREAMINFO (round 6) — the last
# two common audio formats leave the loudly-fake fallback: duration and
# stream layout at header speed, CRC-verified, zero frame decode.
# ---------------------------------------------------------------------------

OGG_META_SCHEMA = ("id long, codec string, channels int, sample_rate int, "
                   "pre_skip int, n_pages long, n_packets long, "
                   "granule_last long, duration_ms long")


def _ogg_payload(i: int) -> bytes:
    """Synthetic Ogg stream i: Opus for even ids / Vorbis for odd,
    3 + i%5 audio pages of 2 + i%3 packets, 1 + i%2 channels, sample
    rate cycling {44100, 48000, 32000} by i%3, Opus pre-skip
    312 + (i%4)·24 — every profiled field closed-form in i."""
    return C.ogg_encode_skeleton(
        "opus" if i % 2 == 0 else "vorbis",
        n_audio_pages=3 + i % 5, packets_per_page=2 + i % 3,
        channels=1 + i % 2,
        sample_rate=(44100, 48000, 32000)[i % 3],
        pre_skip=312 + (i % 4) * 24)


def _ogg_row(rid: int, data: bytes) -> dict:
    m = C.ogg_meta(data)
    return {"id": rid, **m}


def audio_profile_ogg(df: DataFrame, id_col: str,
                      payload_col: str = "payload") -> DataFrame:
    """Ogg (Opus/Vorbis) stream profiling over binary payloads: the real
    RFC 3533 page walk — capture pattern, CRC and page sequencing
    verified on every page, codec identified from the BOS packet, exact
    duration from the final granule position (48 kHz clock minus
    pre-skip for Opus, declared-rate samples for Vorbis).  Header
    arithmetic only; corrupt pages raise for upstream quarantine."""
    return _map_rows(_payloads(df, id_col, payload_col),
                     _ogg_row, OGG_META_SCHEMA)


def synth_audio_profile_ogg(df: DataFrame, id_col: str) -> DataFrame:
    """Fused synth→page walk (one Arrow crossing, id fan-out)."""
    return _fused_synth(
        df, id_col, lambda i: _ogg_row(i, _ogg_payload(i)),
        OGG_META_SCHEMA,
    )


FLAC_META_SCHEMA = ("id long, sample_rate int, channels int, "
                    "bits_per_sample int, total_samples long, "
                    "duration_ms long, min_block_size int, "
                    "max_block_size int, n_meta_blocks long")


def _flac_payload(i: int) -> bytes:
    """Synthetic FLAC header i: rate cycling {44100, 48000, 32000},
    1 + i%2 channels, 16/24-bit by i%2, 100000 + (i·137)%50000 total
    samples, i%3 padding blocks after STREAMINFO."""
    return C.flac_encode_streaminfo(
        sample_rate=(44100, 48000, 32000)[i % 3], channels=1 + i % 2,
        bits_per_sample=16 + (i % 2) * 8,
        total_samples=100_000 + (i * 137) % 50_000,
        n_padding_blocks=i % 3)


def _flac_row(rid: int, data: bytes) -> dict:
    return {"id": rid, **C.flac_streaminfo(data)}


def audio_profile_flac(df: DataFrame, id_col: str,
                       payload_col: str = "payload") -> DataFrame:
    """FLAC profiling over binary payloads: parse the mandatory
    STREAMINFO block (bit-packed 20-bit rate / 3-bit channels / 5-bit
    bps / 36-bit sample count) and walk the metadata chain to the
    last-block flag — exact duration from the first 46 bytes, no audio
    frame ever read."""
    return _map_rows(_payloads(df, id_col, payload_col),
                     _flac_row, FLAC_META_SCHEMA)


def synth_audio_profile_flac(df: DataFrame, id_col: str) -> DataFrame:
    """Fused synth→STREAMINFO parse (one Arrow crossing)."""
    return _fused_synth(
        df, id_col, lambda i: _flac_row(i, _flac_payload(i)),
        FLAC_META_SCHEMA,
    )


AAC_META_SCHEMA = ("id long, n_frames long, sample_rate int, "
                   "channels int, profile int, duration_ms long")


def _aac_payload(i: int) -> bytes:
    """Synthetic ADTS chain i: 10 + i%25 frames at rate index
    (3, 8, 11)[i%3] (48000/16000/8000 Hz), 1 + i%2 channels — every
    profiled field closed-form in i."""
    return C.adts_encode_skeleton(10 + i % 25, rate_idx=(3, 8, 11)[i % 3],
                                  channels=1 + i % 2, profile=1)


def _aac_row(rid: int, data: bytes) -> dict:
    return {"id": rid, **C.adts_meta(data)}


def audio_profile_aac(df: DataFrame, id_col: str,
                      payload_col: str = "payload") -> DataFrame:
    """ADTS AAC stream profiling: the real frame-header chain walk
    (13-bit frame lengths locate each next header; 1024 samples per raw
    data block) — the aac sibling of audio_profile_mp3; broken chains
    raise for upstream quarantine."""
    return _map_rows(_payloads(df, id_col, payload_col),
                     _aac_row, AAC_META_SCHEMA)


def synth_audio_profile_aac(df: DataFrame, id_col: str) -> DataFrame:
    """Fused synth→ADTS chain walk (one Arrow crossing)."""
    return _fused_synth(
        df, id_col, lambda i: _aac_row(i, _aac_payload(i)),
        AAC_META_SCHEMA,
    )


# ---------------------------------------------------------------------------
# Generic audio triage: ONE magic-dispatch entry point over mixed
# corpora — every common format routes to its REAL profiler (round 6);
# unknown magics and corrupt payloads quarantine as tagged rows instead
# of killing the batch (the image-triage doctrine).
# ---------------------------------------------------------------------------

AUDIO_AUTO_SCHEMA = ("id long, format string, codec string, "
                     "sample_rate int, channels int, duration_ms long, "
                     "detail long")


def _audio_auto_row(rid: int, data: bytes) -> dict:
    """Magic-byte dispatch: OggS → RFC 3533 walk, fLaC → STREAMINFO,
    RIFF/WAVE → PCM header, ID3/0xFFEx → MPEG-audio fast path (Xing/
    VBRI O(1) when present, chain walk otherwise).  ``detail`` is the
    format's native size measure (PCM frames / MP3 frames / Ogg pages /
    FLAC samples)."""
    try:
        if data[:4] == b"OggS":
            m = C.ogg_meta(data)
            return {"id": rid, "format": "ogg", "codec": m["codec"],
                    "sample_rate": m["sample_rate"],
                    "channels": m["channels"],
                    "duration_ms": m["duration_ms"],
                    "detail": m["n_pages"]}
        if data[:4] == b"fLaC":
            m = C.flac_streaminfo(data)
            return {"id": rid, "format": "flac", "codec": "flac",
                    "sample_rate": m["sample_rate"],
                    "channels": m["channels"],
                    "duration_ms": m["duration_ms"],
                    "detail": m["total_samples"]}
        if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
            rate, chans, _bits, n = C.wav_meta(data)
            return {"id": rid, "format": "wav", "codec": "pcm",
                    "sample_rate": rate, "channels": chans,
                    "duration_ms": n * 1000 // rate, "detail": n}
        if (len(data) >= 2 and data[0] == 0xFF
                and (data[1] & 0xF6) == 0xF0):
            # 0xFFF sync with layer '00' = ADTS; MPEG-audio layers are
            # nonzero, so the two frame families cannot collide
            m = C.adts_meta(data)
            return {"id": rid, "format": "aac", "codec": "aac",
                    "sample_rate": m["sample_rate"],
                    "channels": m["channels"],
                    "duration_ms": m["duration_ms"],
                    "detail": m["n_frames"]}
        if data[:3] == b"ID3" or (len(data) >= 2 and data[0] == 0xFF
                                  and (data[1] & 0xE0) == 0xE0):
            m = C.mp3_meta_fast(data)
            return {"id": rid, "format": "mp3", "codec": "mp3",
                    "sample_rate": m["sample_rate"], "channels": 0,
                    "duration_ms": m["duration_ms"],
                    "detail": m["n_frames"]}
    except ValueError:
        return {"id": rid, "format": "corrupt", "codec": "",
                "sample_rate": -1, "channels": -1, "duration_ms": -1,
                "detail": -1}
    # no common audio format lands here anymore (wav/mp3/aac/ogg/flac
    # all profile for real) — non-audio payloads are tagged for routing,
    # never faked
    return {"id": rid, "format": "unknown", "codec": "",
            "sample_rate": -1, "channels": -1, "duration_ms": -1,
            "detail": -1}


def audio_profile_auto(df: DataFrame, id_col: str,
                       payload_col: str = "payload") -> DataFrame:
    """Audio profiling over a MIXED-format binary corpus: dispatch each
    payload on magic bytes to its real header-speed profiler (wav / mp3
    incl. VBR fast path / ogg opus+vorbis / flac / adts aac) — the production
    entry point for the triage step :func:`audio_features`'s docstring
    prescribes, now an operator instead of an instruction.  Unknown
    magics come back tagged ``format='unknown'`` and corrupt payloads
    ``format='corrupt'`` (quarantine rows, batch never dies)."""
    return _map_rows(_payloads(df, id_col, payload_col),
                     _audio_auto_row, AUDIO_AUTO_SCHEMA)


def _audio_auto_payload(i: int) -> bytes:
    """Mixed-format fixture: i%5 picks wav/mp3/ogg/flac/aac; the
    ogg/flac branches re-index by i//5 so both Ogg codecs and every
    FLAC padding arity appear within one corpus."""
    k = i % 5
    if k == 0:
        return _wav_payload(i)
    if k == 1:
        return _mp3_payload(i)
    if k == 2:
        return _ogg_payload(i // 5)
    if k == 3:
        return _flac_payload(i // 5)
    return _aac_payload(i)


def synth_audio_profile_auto(df: DataFrame, id_col: str) -> DataFrame:
    """Fused synth(mixed wav/mp3/ogg/flac)→magic dispatch→profile."""
    return _fused_synth(
        df, id_col, lambda i: _audio_auto_row(i, _audio_auto_payload(i)),
        AUDIO_AUTO_SCHEMA,
    )


# ---------------------------------------------------------------------------
# Flagship multimodal pipeline: decode -> gate -> near-dup -> pack (round 5)
# ---------------------------------------------------------------------------


def _mm_payload(i: int) -> bytes:
    """Mixed-codec fixture i: format by i%3 (png/jpeg/gif), content
    parameters by k = (i//3) % 40 — the DELIBERATE 40-id period makes
    real duplicate groups inside a 500-doc corpus (ids 3m+fmt and
    3m'+fmt collide whenever m ≡ m' mod 40), so the pipeline's near-dup
    stage has genuine work.  Every format stays in its lossless
    subspace (PNG any pixels; JPEG block-constant; GIF palette ramp) so
    decoded stats have closed forms."""
    fmt, k = i % 3, (i // 3) % 40
    if fmt == 0:
        w, h, a = 8 + k % 4, 8 + (k // 4) % 5, (k * 9) % 120
        x = np.arange(w)[None, :, None]
        y = np.arange(h)[:, None, None]
        c = np.arange(3)[None, None, :]
        return C.png_encode((a + x + y + c).astype(np.uint8),
                            filter_type=2 * (k % 2))
    if fmt == 1:
        bw, bh, a = 1 + k % 3, 1 + (k // 3) % 3, (k * 11) % 120
        return C.jpeg_encode(_block_image(bw, bh, a))
    w, h, a = 6 + k % 5, 6 + (k // 5) % 4, (k * 13) % 120
    frame = (a + np.arange(w)[None, :] + np.arange(h)[:, None]).astype(np.uint8)
    return C.gif_encode([frame])


def _mm_stats_row(rid: int, data: bytes) -> dict:
    """Magic-sniff dispatch to the matching REAL decoder (the
    synth_video_meta pattern): PNG/JPEG full decode, GIF first frame."""
    if data[:2] == b"\xFF\xD8":
        arr = C.jpeg_decode(data)
    elif data[:4] == b"GIF8":
        _w, _h, frames = C.gif_decode(data)
        arr = frames[0]
    else:
        arr = C.png_decode(data)
    ch = arr.shape[2] if arr.ndim == 3 else 1
    return {
        "id": rid, "width": int(arr.shape[1]), "height": int(arr.shape[0]),
        "channels": ch, "px_sum": int(arr.sum(dtype="int64")),
        "px_min": int(arr.min()), "px_max": int(arr.max()),
    }


def synth_mixed_image_stats(df: DataFrame, id_col: str) -> DataFrame:
    """Fused synth(mixed png/jpeg/gif)→magic-dispatch decode→stats."""
    return _fused_synth(df, id_col, lambda i: [_mm_stats_row(i, _mm_payload(i))],
                        IMAGE_STATS_SCHEMA)


def image_curation_pack(stats: DataFrame, id_col: str = "id",
                        min_dim: int = 8, max_mean: int = 70,
                        budget: int = 1500, shards: int = 4) -> DataFrame:
    """The multimodal twin of the ext_corpus_pipeline flagship, fed by
    decoded image stats (id, width, height, channels, px_sum):

    1. quality gate — geometry (min dimension) and integer-exact mean
       brightness (px_sum < max_mean · npx; no float division);
    2. near-dup — feature-fingerprint dedup keep-first on (width,
       height, channels, px_sum): ONE WindowGroupLimit shuffle, the
       exact_keep posture (inside the synthetic ramp family the stats
       tuple determines the pixels; production swaps the key for a
       decoded-content digest or pHash — same plan);
    3. pack — tokenize_pack's sharded greedy fill with pixels as the
       budget unit: id-hash shard, per-shard id-order cumsum, sequence
       s = floor(start_px / budget).  No global window anywhere — at
       100 TB raise ``shards`` until a shard fits a task.

    Returns (shard, seq_no, n_images, px_total, doc_ids) with doc_ids
    comma-joined in id order (membership on the hash, no arrays)."""
    from pyspark.sql import Window

    cid = F.col(id_col)
    npx = (F.col("width") * F.col("height") * F.col("channels")).cast("long")
    gated = stats.filter(
        (F.least(F.col("width"), F.col("height")) >= min_dim)
        & (F.col("px_sum") < F.lit(max_mean) * F.col("width")
           * F.col("height") * F.col("channels"))
    )
    w_dup = Window.partitionBy("width", "height", "channels", "px_sum").orderBy(cid)
    kept = (
        gated.withColumn("__rn", F.row_number().over(w_dup))
        .filter(F.col("__rn") == 1)
        .select(cid.alias("__id"), npx.alias("__npx"))
    )
    sharded = kept.withColumn(
        "__shard",
        F.conv(F.substring(F.md5(F.col("__id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % shards,
    )
    w_off = (
        Window.partitionBy("__shard").orderBy("__id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = sharded.withColumn(
        "__cum", F.sum("__npx").over(w_off)
    ).withColumn(
        # integer DIV, not float floor: a shard's pixel cumsum past 2^53
        # would make float division inexact and diverge from the
        # oracle's exact `//` (the repo's big-int rule)
        "__seq", F.expr(f"(__cum - __npx) DIV {int(budget)}").cast("long"),
    )
    return (
        placed.groupBy(F.col("__shard").alias("shard"), F.col("__seq").alias("seq_no"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_images"),
            F.sum("__npx").cast("long").alias("px_total"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__id"))),
                    lambda s: s["__id"].cast("string"),
                ), ",",
            ).alias("doc_ids"),
        )
    )


def _bmp_payload(i: int) -> bytes:
    """Synthetic 24-bit bitmap i: (4 + i%9) × (3 + (i//2)%7) RGB ramp."""
    w, h, a = 4 + i % 9, 3 + (i // 2) % 7, (i * 7) % 200
    x = np.arange(w)[None, :, None]
    y = np.arange(h)[:, None, None]
    c = np.arange(3)[None, None, :]
    return C.bmp_encode((a + x + y + c).astype(np.uint8))


def _image_triage_payload(i: int) -> bytes:
    """Mixed-format image fixture: i%4 picks png/jpeg/gif/bmp."""
    return (_png_payload, _jpeg_payload, _gif_payload, _bmp_payload)[i % 4](i)


def _image_triage_row(rid: int, data: bytes) -> dict:
    meta = _image_header(data)
    if meta is None:
        raise ValueError("image triage fixture: unknown magic")
    w, h, fmt = meta
    return {"id": rid, "width": w, "height": h, "format": fmt}


def synth_image_triage(df: DataFrame, id_col: str) -> DataFrame:
    """Fused synth(mixed png/jpeg/gif/bmp)→magic-dispatch header parse
    — the image twin of synth_audio_profile_auto, pinning that all four
    image formats take their REAL header path in decode_image_meta's
    dispatch (same parse calls, closed-form oracle fields only)."""
    return _fused_synth(
        df, id_col, lambda i: _image_triage_row(i, _image_triage_payload(i)),
        "id long, width int, height int, format string",
    )
