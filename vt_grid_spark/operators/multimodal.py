"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Two tiers:

  * REAL decoders for the container-less formats — 24-bit uncompressed BMP
    and PCM16 WAV are pure struct/numpy parsing, so image decode/resize/
    feature-extract, audio feature-extract and video frame-sampling are
    genuine working operators here (encode + decode round-trip tested,
    features oracle-checked).  "Video" is a length-prefixed BMP frame
    stream — the container format is ours, the per-frame decode is real.
  * STUB for compressed codecs (JPEG/PNG/MP3...) — ``decode_image`` raises
    a clearly-marked NotImplementedError because real codecs need libs not
    present in this environment; the Spark-side plumbing those codecs
    would ride (binary through Arrow into mapInPandas, typed struct
    schemas, narrow no-shuffle passes) is exactly what the real decoders
    below exercise.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame


def decode_image(data: bytes) -> "object":
    """Compressed-codec decode (JPEG/PNG) needs PIL/libjpeg — not in this
    container.  Uncompressed BMP decodes for real via decode_bmp."""
    raise NotImplementedError(
        "compressed image decode requires an imaging library not present "
        "in this environment; BMP flows through decode_bmp for real")


# --- real decoders: 24-bit BMP ------------------------------------------------


def encode_bmp(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> 24-bit bottom-up uncompressed BMP bytes."""
    h, w, _ = pixels.shape
    row_bytes = (w * 3 + 3) & ~3
    img_size = row_bytes * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size,
                       2835, 2835, 0, 0)
    rows = bytearray()
    bgr = pixels[:, :, ::-1]  # BMP stores BGR
    pad = b"\x00" * (row_bytes - w * 3)
    for r in range(h - 1, -1, -1):  # bottom-up
        rows += bgr[r].tobytes() + pad
    return header + info + bytes(rows)


def decode_bmp(data: bytes) -> np.ndarray:
    """BMP bytes -> (h, w, 3) uint8 RGB.  Pure struct/numpy — a REAL image
    decode with zero dependencies (24-bit uncompressed only)."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    offset = struct.unpack_from("<I", data, 10)[0]
    w, h = struct.unpack_from("<ii", data, 18)
    bpp = struct.unpack_from("<H", data, 28)[0]
    comp = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or comp != 0:
        raise NotImplementedError("only 24-bit uncompressed BMP")
    row_bytes = (w * 3 + 3) & ~3
    arr = np.frombuffer(data, dtype=np.uint8, count=row_bytes * h, offset=offset)
    arr = arr.reshape(h, row_bytes)[:, : w * 3].reshape(h, w, 3)
    return arr[::-1, :, ::-1].copy()  # bottom-up BGR -> top-down RGB


def resize_nearest(pixels: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize: out (u, v) <- src (v*h//out_h, u*w//out_w)."""
    h, w, _ = pixels.shape
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return pixels[np.ix_(ys, xs)]


# --- real decoders: PCM16 WAV ---------------------------------------------------


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """int16 mono samples -> PCM16 WAV bytes."""
    pcm = np.asarray(samples, dtype="<i2").tobytes()
    hdr = struct.pack("<4sI4s4sIHHIIHH4sI", b"RIFF", 36 + len(pcm), b"WAVE",
                      b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16,
                      b"data", len(pcm))
    return hdr + pcm


def decode_wav(data: bytes) -> tuple[int, np.ndarray]:
    """WAV bytes -> (sample_rate, int16 samples).  PCM16 mono only."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    pos = 12
    sample_rate, samples = None, None
    while pos + 8 <= len(data):
        cid, ln = struct.unpack_from("<4sI", data, pos)
        pos += 8
        if cid == b"fmt ":
            fmt, ch, sample_rate = struct.unpack_from("<HHI", data, pos)
            if fmt != 1 or ch != 1:
                raise NotImplementedError("only PCM16 mono WAV")
        elif cid == b"data":
            samples = np.frombuffer(data, dtype="<i2", count=ln // 2, offset=pos)
        pos += ln + (ln & 1)
    if sample_rate is None or samples is None:
        raise ValueError("missing fmt/data chunk")
    return sample_rate, samples


# --- "video": length-prefixed BMP frame stream ----------------------------------


def encode_video(frames: list[np.ndarray]) -> bytes:
    """[(h, w, 3) uint8, ...] -> 4-byte frame count + (4-byte len + BMP)*."""
    out = bytearray(struct.pack("<I", len(frames)))
    for f in frames:
        b = encode_bmp(f)
        out += struct.pack("<I", len(b)) + b
    return bytes(out)


def iter_video_frames(data: bytes):
    """Yield (frame_idx, bmp_bytes) without decoding skipped frames —
    frame-sampling reads only the length prefixes."""
    (n,) = struct.unpack_from("<I", data, 0)
    pos = 4
    for i in range(n):
        (ln,) = struct.unpack_from("<I", data, pos)
        pos += 4
        yield i, data[pos:pos + ln]
        pos += ln


# --- Spark surfaces (mapInPandas over Arrow, narrow, typed schemas) --------------

IMAGE_FEATURES_SCHEMA = ("doc_id long, width int, height int, "
                         "sum_r long, sum_g long, sum_b long, thumb_sum long")


def image_features(df: DataFrame, image_col: str = "image",
                   id_col: str = "doc_id", thumb: int = 8) -> DataFrame:
    """Real decode + feature extract + resize over a binary image column:
    per image, channel sums and the pixel sum of a nearest-neighbor
    thumb x thumb thumbnail (the resize path)."""

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = {k: [] for k in ["doc_id", "width", "height",
                                    "sum_r", "sum_g", "sum_b", "thumb_sum"]}
            for i, data in zip(pdf[id_col], pdf[image_col]):
                px = decode_bmp(bytes(data))
                h, w, _ = px.shape
                s = px.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                th = resize_nearest(px, thumb, thumb)
                rows["doc_id"].append(int(i))
                rows["width"].append(w); rows["height"].append(h)
                rows["sum_r"].append(int(s[0])); rows["sum_g"].append(int(s[1]))
                rows["sum_b"].append(int(s[2]))
                rows["thumb_sum"].append(int(th.sum(dtype=np.int64)))
            yield pd.DataFrame(rows)

    return df.mapInPandas(gen, schema=IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = ("doc_id long, sample_rate int, n_samples long, "
                         "sum_sq long, n_zero_cross long")


def audio_features(df: DataFrame, audio_col: str = "audio",
                   id_col: str = "doc_id") -> DataFrame:
    """Real WAV decode + features: energy (sum of squares, exact integer)
    and zero-crossing count."""

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = {k: [] for k in ["doc_id", "sample_rate", "n_samples",
                                    "sum_sq", "n_zero_cross"]}
            for i, data in zip(pdf[id_col], pdf[audio_col]):
                sr, s = decode_wav(bytes(data))
                s64 = s.astype(np.int64)
                rows["doc_id"].append(int(i))
                rows["sample_rate"].append(int(sr))
                rows["n_samples"].append(len(s))
                rows["sum_sq"].append(int((s64 * s64).sum()))
                rows["n_zero_cross"].append(int(((s64[:-1] * s64[1:]) < 0).sum()))
            yield pd.DataFrame(rows)

    return df.mapInPandas(gen, schema=AUDIO_FEATURES_SCHEMA)


FRAME_SAMPLE_SCHEMA = ("doc_id long, frame_idx int, width int, height int, "
                       "sum_px long")


def frame_sample(df: DataFrame, every_n: int, video_col: str = "video",
                 id_col: str = "doc_id") -> DataFrame:
    """Video frame-sampling: decode ONLY every Nth frame (the length-
    prefixed stream is skipped over, not decoded) -> one row per sampled
    frame with its dimensions and pixel sum."""

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = {k: [] for k in ["doc_id", "frame_idx", "width",
                                    "height", "sum_px"]}
            for i, data in zip(pdf[id_col], pdf[video_col]):
                for idx, blob in iter_video_frames(bytes(data)):
                    if idx % every_n:
                        continue
                    px = decode_bmp(blob)
                    rows["doc_id"].append(int(i))
                    rows["frame_idx"].append(idx)
                    rows["width"].append(px.shape[1])
                    rows["height"].append(px.shape[0])
                    rows["sum_px"].append(int(px.sum(dtype=np.int64)))
            yield pd.DataFrame(rows)

    return df.mapInPandas(gen, schema=FRAME_SAMPLE_SCHEMA)


HTML_FEATURES_SCHEMA = (
    "url string, n_bytes long, n_tags long, text_extracted string, fake_w int, fake_h int"
)


def html_features(df: DataFrame, html_col: str = "html",
                  url_col: str = "url") -> DataFrame:
    """mapInPandas feature extraction over a binary column.

    Real parts: byte length, tag count, tag-stripped text (byte-identical
    extraction — the north_rule invariant).  Fake parts: image-like
    dimensions derived from the byte length (``n % 640 + 1``,
    ``n * 7 % 480 + 1``), standing in for decode."""

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        tag_re = r"<[^>]+>"
        for pdf in batches:
            # vectorized pandas string kernels over the whole Arrow batch —
            # no per-row Python loop (north_rule); .str.len()/.str.decode()
            # operate on the bytes series directly
            n_bytes = pdf[html_col].str.len().astype("int64")
            s = pdf[html_col].str.decode("utf-8", errors="replace")
            n_tags = s.str.count(tag_re)
            texts = s.str.replace(tag_re, "", regex=True)
            yield pd.DataFrame({
                "url": pdf[url_col],
                "n_bytes": n_bytes,
                "n_tags": n_tags,
                "text_extracted": texts,
                "fake_w": (n_bytes % 640 + 1).astype("int32"),
                "fake_h": ((n_bytes * 7) % 480 + 1).astype("int32"),
            })

    return df.mapInPandas(gen, schema=HTML_FEATURES_SCHEMA)
