"""Multimodal columns: image/audio/video as opaque ``binary`` with typed
metadata, processed by Arrow-batched pandas functions via ``mapInPandas``.

The decoders are REAL for two trivially-parseable public formats that need
no imaging/audio libraries:

* **PPM (P6)** — netpbm binary image: ASCII header + raw RGB bytes,
  parsed with a regex + ``numpy.frombuffer``; features are actual pixel
  statistics of the decoded (h, w, 3) array.
* **WAV (RIFF/PCM)** — decoded with the stdlib ``wave`` module; features
  are actual PCM sample statistics (RMS, mean |amplitude|, zero-crossing
  rate).
* video stands in as a **concatenated-PPM container** (motion-JPEG-style):
  frame sampling really walks the container frame by frame.

* **BMP (24-bit uncompressed)** — parsed with ``struct`` +
  ``numpy.frombuffer`` (BGR bottom-up raster, row padding handled).

**JPEG/PNG** route through Pillow when importable (format sniffed from
magic bytes, same Arrow-batched contract) and raise a clear gate error
otherwise; heavier codecs (MP4/FLAC) slot in the same way by swapping the
per-blob decode function — the plan shape is identical.

Scale notes: ``mapInPandas`` streams Arrow record batches through one
Python worker per core; binary payloads never pass through the driver.
For very large blobs, store (path, offset, length) pointers and fetch in
the batch function instead of materializing blobs in the table.
"""

from __future__ import annotations

import io
import re
import wave
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: schema contract for decoded image metadata + features
DECODED_SCHEMA = (
    "doc_id long, byte_len int, width int, height int, channels int, features array<double>"
)

# no '^' anchor: re.match(blob, offset) anchors at offset; '^' would only
# ever match at position 0 and break the container walker
_PPM_HEADER = re.compile(rb"P6\s+(\d+)\s+(\d+)\s+(\d+)\s", re.DOTALL)


# -- synthesis (testdata ships no media; blobs are real-format bytes) --------

def _gradient_pixels(seed: int, width: int, height: int) -> np.ndarray:
    """The shared deterministic gradient ``(x + y + c + seed) % 256`` all
    three synthetic formats encode — one definition, so the cross-format
    feature-equivalence tests cannot drift."""
    x = np.arange(width)[None, :, None]
    y = np.arange(height)[:, None, None]
    c = np.arange(3)[None, None, :]
    return ((x + y + c + seed) % 256).astype(np.uint8)


def ppm_bytes(seed: int, width: int, height: int) -> bytes:
    """A real P6 PPM image of the deterministic gradient
    (:func:`_gradient_pixels`) — closed-form, so a SQL oracle can verify
    the decoded statistics independently."""
    pixels = _gradient_pixels(seed, width, height)
    return b"P6\n%d %d\n255\n" % (width, height) + pixels.tobytes()


def wav_bytes(seed: int, n_samples: int = 256, sample_rate: int = 8000) -> bytes:
    """A real RIFF/PCM WAV: 16-bit mono sawtooth, frequency bin from the
    seed, sample ``((i*fb) % 64) * 200 - 6400`` — integer closed form, so a
    SQL oracle reproduces the decoded statistics bit-exactly (a sine would
    risk 1-ulp libm divergence at floor() boundaries)."""
    fb = seed % 8 + 1
    i = np.arange(n_samples)
    samples = (((i * fb) % 64) * 200 - 6400).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def attach_image_blobs(df: DataFrame, id_col: str = "doc_id", out: str = "blob") -> DataFrame:
    """Attach a deterministic real-PPM blob per row (w/h derived from the
    id). Demo plumbing — real pipelines read ``binaryFile``/binary parquet."""

    def batches(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in iterator:
            ids = pdf[id_col]
            pdf = pdf.copy()
            pdf[out] = [
                ppm_bytes(int(d), 8 + int(d) % 8, 8 + (int(d) // 8) % 8) for d in ids
            ]
            yield pdf

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    return df.mapInPandas(batches, schema=f"{schema}, {out} binary")


def attach_audio_blobs(df: DataFrame, id_col: str = "doc_id", out: str = "blob") -> DataFrame:
    """Attach a deterministic real-WAV blob per row."""

    def batches(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in iterator:
            pdf = pdf.copy()
            pdf[out] = [wav_bytes(int(d)) for d in pdf[id_col]]
            yield pdf

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    return df.mapInPandas(batches, schema=f"{schema}, {out} binary")


def attach_video_blobs(
    df: DataFrame, id_col: str = "doc_id", out: str = "blob", n_frames: int = 12
) -> DataFrame:
    """Attach a concatenated-PPM 'video' container (``n_frames`` 8x8 frames)."""

    def batches(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in iterator:
            pdf = pdf.copy()
            pdf[out] = [
                b"".join(ppm_bytes(int(d) + f, 8, 8) for f in range(n_frames))
                for d in pdf[id_col]
            ]
            yield pdf

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    return df.mapInPandas(batches, schema=f"{schema}, {out} binary")


def bmp_bytes(seed: int, width: int, height: int) -> bytes:
    """A real 24-bit uncompressed BMP (BITMAPINFOHEADER, bottom-up rows,
    4-byte row padding) with the same deterministic gradient as
    :func:`ppm_bytes`, so decoded features are format-independent."""
    pixels = _gradient_pixels(seed, width, height)  # RGB, top-down
    row_len = (width * 3 + 3) & ~3
    raster = np.zeros((height, row_len), dtype=np.uint8)
    raster[:, : width * 3] = pixels[::-1, :, ::-1].reshape(height, -1)  # BGR bottom-up
    data = raster.tobytes()
    import struct

    header = struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    return header + info + data


def pillow_available() -> bool:
    """True when Pillow is importable — gates the JPEG/PNG decode path."""
    import importlib.util

    return importlib.util.find_spec("PIL") is not None


def jpeg_bytes(seed: int, width: int, height: int, quality: int = 95) -> bytes:
    """A real JPEG of the deterministic gradient (requires Pillow). Lossy:
    tests compare decoded features approximately, unlike PPM/BMP."""
    from PIL import Image  # noqa: PLC0415  (gated import)

    pixels = _gradient_pixels(seed, width, height)
    buf = io.BytesIO()
    Image.fromarray(pixels, "RGB").save(buf, format="JPEG", quality=quality)
    return buf.getvalue()


# -- decoders ----------------------------------------------------------------

def decode_ppm(blob: bytes, offset: int = 0) -> tuple[int, int, np.ndarray, int]:
    """Parse one P6 PPM starting at ``offset``: returns (width, height,
    (h, w, 3) uint8 array, END offset of the frame). Raises ValueError on
    malformed input. The offset form lets container walkers advance
    without copying the unconsumed tail per frame (O(bytes), not
    O(bytes x frames))."""
    match = _PPM_HEADER.match(blob, offset)
    if not match:
        raise ValueError("not a P6 PPM image")
    width, height, maxval = map(int, match.groups())
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    if width < 1 or height < 1:
        # a 0x0 "image" decodes to a zero-size array whose .min()/indexing
        # crash every downstream feature with errors skip_invalid can't
        # classify
        raise ValueError(f"degenerate PPM dimensions {width}x{height}")
    start = match.end()
    n = width * height * 3
    if len(blob) < start + n:
        raise ValueError("truncated PPM pixel data")
    pixels = np.frombuffer(blob[start : start + n], dtype=np.uint8).reshape(
        height, width, 3
    )
    return width, height, pixels, start + n


def decode_bmp(blob: bytes) -> tuple[int, int, np.ndarray]:
    """Parse one 24-bit uncompressed BMP: returns (width, height,
    (h, w, 3) uint8 RGB array). Raises ValueError on malformed input."""
    import struct

    if blob[:2] != b"BM" or len(blob) < 54:
        raise ValueError("not a BMP image")
    data_offset = struct.unpack_from("<I", blob, 10)[0]
    width, height = struct.unpack_from("<ii", blob, 18)
    bpp = struct.unpack_from("<H", blob, 28)[0]
    compression = struct.unpack_from("<I", blob, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"only 24-bit uncompressed BMP supported (bpp={bpp})")
    bottom_up = height > 0
    height = abs(height)
    if width < 1 or height < 1:
        raise ValueError(f"degenerate BMP dimensions {width}x{height}")
    row_len = (width * 3 + 3) & ~3
    if len(blob) < data_offset + row_len * height:
        raise ValueError("truncated BMP pixel data")
    raster = np.frombuffer(
        blob, dtype=np.uint8, count=row_len * height, offset=data_offset
    ).reshape(height, row_len)[:, : width * 3].reshape(height, width, 3)
    pixels = raster[:, :, ::-1]  # BGR -> RGB
    return width, height, pixels[::-1] if bottom_up else pixels


def decode_image_blob(blob: bytes) -> tuple[int, int, np.ndarray]:
    """Sniff the format from magic bytes and decode to (w, h, RGB array).

    P6 PPM and 24-bit BMP decode natively (dependency-free); JPEG and PNG
    route through Pillow when importable and raise a clear gate error
    otherwise — same contract, no NotImplementedError stubs."""
    if blob[:2] == b"P6":
        width, height, pixels, _ = decode_ppm(blob)
        return width, height, pixels
    if blob[:2] == b"BM":
        return decode_bmp(blob)
    if blob[:2] == b"\xff\xd8" or blob[:8] == b"\x89PNG\r\n\x1a\n":
        if not pillow_available():
            raise ValueError(
                "JPEG/PNG decode requires Pillow, which is not installed; "
                "install Pillow or store PPM/BMP blobs"
            )
        from PIL import Image  # noqa: PLC0415

        try:
            img = Image.open(io.BytesIO(blob)).convert("RGB")
        except OSError as exc:  # UnidentifiedImageError subclasses OSError
            # keep the documented "raises ValueError" contract so
            # skip_invalid can classify truncated/garbage JPEG bytes
            raise ValueError(f"undecodable image: {exc}") from exc
        if img.width < 1 or img.height < 1:
            raise ValueError(f"degenerate dimensions {img.width}x{img.height}")
        return img.width, img.height, np.asarray(img)
    raise ValueError(f"unrecognized image magic {blob[:4]!r}")


def decode_images(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    skip_invalid: bool = False,
) -> DataFrame:
    """Decode image blobs (PPM/BMP native; JPEG/PNG via Pillow when
    present — see :func:`decode_image_blob`) to metadata + real
    pixel-statistic features via ``mapInPandas`` (Arrow-batched; one Python
    roundtrip per batch, not per row). Features:
    [mean_r, mean_g, mean_b, min, max] scaled to [0, 1].

    ``skip_invalid=True`` drops undecodable blobs instead of failing the
    job — at 100 TB one truncated crawl image must not kill the stage; the
    dropped count is the input count minus the output count (both cheap),
    and the survivors' values are identical to the strict mode's."""

    def batches(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in iterator:
            rows = []
            for doc_id, blob in zip(pdf[id_col], pdf[blob_col]):
                blob = bytes(blob)
                try:
                    # feature math stays inside the try: any degenerate
                    # decode that slips through must still be skippable
                    width, height, pixels = decode_image_blob(blob)
                    means = pixels.reshape(-1, 3).mean(axis=0) / 255.0
                    features = [*means, pixels.min() / 255.0, pixels.max() / 255.0]
                except ValueError:
                    if skip_invalid:
                        continue
                    raise
                rows.append((doc_id, len(blob), width, height, 3, features))
            yield pd.DataFrame(
                rows,
                columns=[id_col, "byte_len", "width", "height", "channels", "features"],
            )

    return df.select(id_col, blob_col).mapInPandas(
        batches,
        schema=(
            f"{id_col} long, byte_len int, width int, height int, "
            "channels int, features array<double>"
        ),
    )


def sample_frames(
    df: DataFrame, blob_col: str = "blob", id_col: str = "doc_id", every: int = 10
) -> DataFrame:
    """Walk a concatenated-PPM container frame by frame (real parsing: each
    header is re-read, each frame's pixels are decoded); emit every
    ``every``-th frame with its actual mean pixel value."""

    def batches(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in iterator:
            rows = []
            for doc_id, blob in zip(pdf[id_col], pdf[blob_col]):
                blob = bytes(blob)
                offset = idx = 0
                while offset < len(blob):
                    # offset form: no per-frame copy of the container tail
                    _, _, pixels, offset = decode_ppm(blob, offset)
                    if idx % every == 0:
                        rows.append((doc_id, idx, float(pixels.mean() / 255.0)))
                    idx += 1
            yield pd.DataFrame(rows, columns=[id_col, "frame_idx", "mean_px"])

    return df.select(id_col, blob_col).mapInPandas(
        batches, schema=f"{id_col} long, frame_idx int, mean_px double"
    )


def _read_pcm_mono(blob: bytes) -> tuple[np.ndarray, int]:
    """Decode a RIFF/PCM WAV blob to (mono float64 samples, sample rate).
    Multichannel frames interleave channels, so the raster is truncated to
    whole frames and downmixed — otherwise durations multiply by the
    channel count and zero-crossings compare samples from DIFFERENT
    channels. Shared by decode_audio and audio_frame_features so the
    channel/endianness handling cannot diverge."""
    with wave.open(io.BytesIO(blob), "rb") as w:
        if w.getsampwidth() != 2:
            raise ValueError("only 16-bit PCM supported")
        sr = w.getframerate()
        if sr <= 0:
            # the stdlib wave reader accepts a framerate-0 fmt chunk
            raise ValueError(f"invalid sample rate {sr}")
        n_ch = w.getnchannels()
        frames = w.readframes(w.getnframes())
    samples = np.frombuffer(frames, dtype="<i2").astype(np.float64)
    if n_ch > 1:
        samples = samples[: len(samples) - len(samples) % n_ch]
        samples = samples.reshape(-1, n_ch).mean(axis=1)
    return samples, sr


def decode_audio(
    df: DataFrame, blob_col: str = "blob", id_col: str = "doc_id"
) -> DataFrame:
    """Decode RIFF/PCM WAV blobs with the stdlib ``wave`` reader; features
    are real PCM statistics: duration (s), RMS and mean |amplitude| scaled
    by 2^15, and zero-crossing rate."""

    def batches(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in iterator:
            rows = []
            for doc_id, blob in zip(pdf[id_col], pdf[blob_col]):
                samples, sr = _read_pcm_mono(bytes(blob))
                n = len(samples)
                rms = float(np.sqrt((samples**2).mean()) / 32768.0) if n else 0.0
                mean_abs = float(np.abs(samples).mean() / 32768.0) if n else 0.0
                signs = np.sign(samples)
                crossings = int((signs[1:] * signs[:-1] < 0).sum()) if n > 1 else 0
                rows.append(
                    (doc_id, sr, n, n / sr, rms, mean_abs, crossings / max(n - 1, 1))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "sample_rate", "n_samples", "duration",
                    "rms", "mean_abs", "zero_cross_rate",
                ],
            )

    return df.select(id_col, blob_col).mapInPandas(
        batches,
        schema=(
            f"{id_col} long, sample_rate int, n_samples int, duration double, "
            "rms double, mean_abs double, zero_cross_rate double"
        ),
    )


def dhash_images(
    df: DataFrame, blob_col: str = "blob", id_col: str = "doc_id"
) -> DataFrame:
    """56-bit difference hash (dHash) of decoded images: nearest-neighbor
    resample to an 8×8 grayscale grid (``(i*dim)//8`` sampling), then one bit per horizontally-adjacent cell
    pair — ``bit(y,x) = g[y,x] > g[y,x+1]`` — giving 8 rows × 7
    comparisons. 56 bits (not the classic 64) keeps the value inside the
    positive BIGINT range of every engine, so SQL oracles and other
    systems reproduce it exactly. Arrow-batched ``mapInPandas``; 8 bytes
    out per image regardless of resolution — the scale story for
    billion-image dedup is that only this slim table ever shuffles."""

    def batches(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in iterator:
            rows = []
            for doc_id, blob in zip(pdf[id_col], pdf[blob_col]):
                width, height, pixels = decode_image_blob(bytes(blob))
                ys = (np.arange(8) * height) // 8
                xs = (np.arange(8) * width) // 8
                gray = pixels.astype(np.float64).mean(axis=2)
                g = gray[np.ix_(ys, xs)]
                bits = 0
                for y in range(8):
                    for x in range(7):
                        if g[y, x] > g[y, x + 1]:
                            bits |= 1 << (y * 7 + x)
                rows.append((doc_id, bits))
            yield pd.DataFrame(rows, columns=[id_col, "dhash"])

    return df.select(id_col, blob_col).mapInPandas(
        batches, schema=f"{id_col} long, dhash long"
    )


def phash_near_dups(
    hashes: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    id_col: str = "doc_id",
    max_band_freq: int | None = None,
    bits: int = 56,
    hash_col: str = "dhash",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Near-duplicate image pairs by Hamming distance over dHash values,
    EXACT w.r.t. ``max_hamming`` via pigeonhole banding: the ``bits`` split
    into ``bands`` contiguous bands; two hashes within ``max_hamming``
    differing bits must agree on at least one whole band whenever
    ``max_hamming < bands``, so the band equi-join loses nothing
    (enforced). Candidates verify with ``bit_count(xor)``.

    Scale shape: images collapse to DISTINCT hash values before any join —
    a billion copies of one meme are ONE row through banding — so the
    band join is quadratic only in distinct near-colliding hashes, never
    in image count. Identical-hash pairs re-expand through a per-hash
    self-join at the end; that expansion is linear in the *output* (pair
    enumeration is the caller's contract). ``max_band_freq`` additionally
    caps pathological band values across distinct hashes (MinHash's
    ``max_band_freq`` trade: recall on mega-clusters for a hard bound),
    at the cost of the exactness guarantee."""
    if max_hamming >= bands:
        raise ValueError(
            f"exactness needs max_hamming < bands (got {max_hamming} >= {bands}): "
            "a pair could differ in every band and never collide"
        )
    width_bits = bits // bands
    mask = (1 << width_bits) - 1
    from graphique_spark.session import materialize

    # materialized: the (id, hash) table feeds FIVE consumers (the
    # distinct-hash banding input, both sides of the id re-expansion join
    # and both sides of the identical-hash join) and its upstream is
    # typically expensive (mapInPandas image decode, simhash vote
    # aggregation) — renamed projections block exchange reuse, so without
    # the cut each consumer re-runs that pipeline. One slim row per image.
    ids = materialize(
        hashes.select(F.col(id_col), F.col(hash_col).alias("dhash")), checkpoint_dir
    )
    distinct_h = ids.select("dhash").distinct()
    bandvals = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(F.col("dhash"), i * width_bits)
                .bitwiseAND(F.lit(mask))
                .alias("val"),
            )
            for i in range(bands)
        ]
    )
    exploded = distinct_h.select("dhash", F.explode(bandvals).alias("b")).select(
        "dhash", "b.band", "b.val"
    )
    if max_band_freq is not None:
        freq = exploded.groupBy("band", "val").agg(F.count(F.lit(1)).alias("__f"))
        exploded = (
            exploded.join(freq, on=["band", "val"])
            .where(F.col("__f") <= max_band_freq)
            .drop("__f")
        )
    left = exploded.toDF("ha", "band", "val")
    right = exploded.toDF("hb", "band", "val")
    hpairs = (
        left.join(right, on=["band", "val"])
        .where(F.col("ha") < F.col("hb"))
        .select("ha", "hb")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .where(F.col("hamming") <= max_hamming)
    )
    # expand qualifying hash pairs to id pairs (distinct hashes: a<b order
    # already holds per pair; cross-hash ids need no ordering fix because
    # ha != hb partitions the ids)
    a = ids.toDF("id_a", "ha")
    b = ids.toDF("id_b", "hb")
    cross = (
        hpairs.join(a, on="ha")
        .join(b, on="hb")
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "hamming",
        )
    )
    # identical-hash images: every intra-hash pair at distance 0
    same = (
        a.join(b, a["ha"] == b["hb"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).alias("hamming"))
    )
    return cross.unionByName(same)


def audio_frame_features(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    frame_samples: int = 64,
) -> DataFrame:
    """Frame-level audio features — the windowing step every speech
    pipeline (VAD, diarization, ASR frontends) runs before modeling:
    decode PCM, cut into ``frame_samples``-sample frames (tail dropped),
    emit per-frame RMS and peak scaled to [0, 1]. Arrow-batched
    ``mapInPandas``; the reshape is one numpy view, not a Python loop over
    samples."""

    def batches(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in iterator:
            rows = []
            for doc_id, blob in zip(pdf[id_col], pdf[blob_col]):
                samples, _ = _read_pcm_mono(bytes(blob))
                n_frames = len(samples) // frame_samples
                if not n_frames:
                    continue
                windows = samples[: n_frames * frame_samples].reshape(
                    n_frames, frame_samples
                )
                rms = np.sqrt((windows**2).mean(axis=1)) / 32768.0
                peak = np.abs(windows).max(axis=1) / 32768.0
                rows.extend(
                    (doc_id, int(i), float(rms[i]), float(peak[i]))
                    for i in range(n_frames)
                )
            yield pd.DataFrame(rows, columns=[id_col, "frame_idx", "rms", "peak"])

    return df.select(id_col, blob_col).mapInPandas(
        batches, schema=f"{id_col} long, frame_idx int, rms double, peak double"
    )


def channel_histograms(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    bins: int = 16,
) -> DataFrame:
    """Per-channel intensity histograms of decoded images — the feature
    behind color-based near-dup blocking, auto-exposure audits, and cheap
    domain clustering. Returns one row per (image, channel) with a
    ``bins``-bucket count array (uniform buckets over 0..255).
    Arrow-batched ``mapInPandas``; the binning is one ``np.bincount`` per
    channel, never a Python loop over pixels."""

    def batches(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # max(1,...) + clip: when bins does not divide 256 the top bucket
        # absorbs the remainder instead of values 252+ being silently
        # truncated out of the histogram (and bins>256 no longer divides
        # by zero)
        width = max(1, 256 // bins)
        for pdf in iterator:
            rows = []
            for doc_id, blob in zip(pdf[id_col], pdf[blob_col]):
                _, _, pixels = decode_image_blob(bytes(blob))
                for c in range(pixels.shape[2]):
                    buckets = np.minimum(pixels[:, :, c].ravel() // width, bins - 1)
                    counts = np.bincount(buckets, minlength=bins)[:bins]
                    rows.append((doc_id, c, [int(x) for x in counts]))
            yield pd.DataFrame(rows, columns=[id_col, "channel", "counts"])

    return df.select(id_col, blob_col).mapInPandas(
        batches, schema=f"{id_col} long, channel int, counts array<bigint>"
    )
