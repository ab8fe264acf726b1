"""Image-column transform operators: feature-extract, perceptual hash,
resize, and video frame-sampling.

The multimodal contract (BASELINE.json input_hint): images are opaque
``binary`` cells with typed metadata; every transform decodes ONLY inside
Arrow batches, in the scan stage — the bytes column never crosses a shuffle
(same invariant the flagship pipeline asserts, tests/test_pipeline.py).
Codecs come from io/imagecodec.py (real PNG subset + honest lossy stand-in;
a PIL/libvips swap is a one-function change there).

- ``image_features``: per-image channel means, luma mean/std, and a REAL
  64-bit DCT perceptual hash (block-mean resize to 32x32 luma -> 2D DCT via
  two matmuls -> top-left 8x8 coefficients -> median threshold). Near-
  identical images land within small hamming distance — the input the
  simhash/near-dup family consumes for image dedup.
- ``resize_image``: nearest-neighbor resize + re-encode in the declared
  format; corrupt inputs yield NULL, mirroring the tolerated-failure path.
- ``sample_frames``: mapInPandas explode of a QVID container (a real
  length-prefixed multi-frame format the synth source can produce) into
  (frame_no, frame bytes) rows, taking every k-th frame. Real video codecs
  slot into _iter_frames behind the same signature.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from corpusama_spark.io.imagecodec import decode_image, encode_png, encode_qimg

FEATURES_SCHEMA = StructType(
    [
        StructField("mean_r", DoubleType()),
        StructField("mean_g", DoubleType()),
        StructField("mean_b", DoubleType()),
        StructField("luma_mean", DoubleType()),
        StructField("luma_std", DoubleType()),
        StructField("phash64", LongType()),
    ]
)

_DCT32 = None


def _dct_basis(n: int = 32) -> np.ndarray:
    global _DCT32
    if _DCT32 is None:
        k = np.arange(n)
        _DCT32 = np.cos(np.pi / n * (k[:, None] + 0.5) * k[None, :])  # (x, u)
    return _DCT32


def _block_mean_32(luma: np.ndarray) -> np.ndarray:
    """Resize luma to 32x32 by block averaging (area interpolation).

    Images narrower than 32px in either axis are nearest-neighbor upsampled
    first so every output window covers >= 1 real pixel — the earlier
    clamp-based guard left zero-area windows past row/col h, padding the
    32x32 luma with constant black and wasting phash bits on it.
    """
    h, w = luma.shape
    if h < 32 or w < 32:
        nh, nw = max(h, 32), max(w, 32)
        ys = (np.arange(nh) * h) // nh
        xs = (np.arange(nw) * w) // nw
        luma = luma[ys[:, None], xs[None, :]]
        h, w = nh, nw
    ys = (np.arange(33) * h) // 32  # strictly increasing once h, w >= 32
    xs = (np.arange(33) * w) // 32
    csum = np.zeros((h + 1, w + 1))
    csum[1:, 1:] = luma.cumsum(0).cumsum(1)
    out = (
        csum[ys[1:], :][:, xs[1:]]
        - csum[ys[:-1], :][:, xs[1:]]
        - csum[ys[1:], :][:, xs[:-1]]
        + csum[ys[:-1], :][:, xs[:-1]]
    )
    areas = (ys[1:] - ys[:-1])[:, None] * (xs[1:] - xs[:-1])[None, :]
    return out / np.maximum(areas, 1)


def phash64(arr: np.ndarray) -> int:
    """DCT perceptual hash of an (h, w, 3) uint8 image -> signed int64."""
    luma = (
        0.299 * arr[..., 0] + 0.587 * arr[..., 1] + 0.114 * arr[..., 2]
    ).astype(np.float64)
    small = _block_mean_32(luma)
    basis = _dct_basis(32)
    coeffs = basis.T @ small @ basis  # 2D DCT-II up to scale
    block = coeffs[:8, :8].flatten()
    med = np.median(block[1:])  # skip DC term for the threshold
    bits = block > med
    val = 0
    for i, b in enumerate(bits):
        if b:
            val |= 1 << i
    return int(np.uint64(val).astype(np.int64))


def _features_one(data, fmt) -> tuple:
    if data is None:
        return (None,) * 6
    try:
        arr = decode_image(bytes(data), fmt)
    except ValueError:
        return (None,) * 6
    means = arr.reshape(-1, 3).mean(axis=0)
    luma = 0.299 * arr[..., 0] + 0.587 * arr[..., 1] + 0.114 * arr[..., 2]
    return (
        float(means[0]),
        float(means[1]),
        float(means[2]),
        float(luma.mean()),
        float(luma.std()),
        phash64(arr),
    )


def _features_batch(data: pd.Series, fmt: pd.Series) -> pd.DataFrame:
    rows = [_features_one(d, f) for d, f in zip(data, fmt)]
    return pd.DataFrame(rows, columns=[f.name for f in FEATURES_SCHEMA.fields])


def image_features(
    bytes_col: Column | str = "bytes", fmt_col: Column | str = "fmt"
) -> Column:
    """struct of channel/luma stats + 64-bit perceptual hash; narrow."""
    as_col = lambda c: F.col(c) if isinstance(c, str) else c  # noqa: E731
    udf = F.pandas_udf(_features_batch, FEATURES_SCHEMA)  # per call: see verify_image
    return udf(as_col(bytes_col), as_col(fmt_col))


def resize_nn(arr: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize of an (h, w, 3) array."""
    h, w = arr.shape[:2]
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return arr[ys[:, None], xs[None, :]]


def resize_image(
    bytes_col: Column | str,
    fmt_col: Column | str,
    out_w: int,
    out_h: int,
) -> Column:
    """Resized re-encoded image bytes (NULL on corrupt input) — narrow."""

    @F.pandas_udf(BinaryType())
    def _resize_udf(data: pd.Series, fmt: pd.Series) -> pd.Series:
        out = []
        for d, f in zip(data, fmt):
            if d is None:
                out.append(None)
                continue
            try:
                arr = resize_nn(decode_image(bytes(d), f), out_w, out_h)
                out.append(
                    encode_png(arr) if f == "png" else encode_qimg(arr, f)
                )
            except ValueError:
                out.append(None)
        return pd.Series(out)

    as_col = lambda c: F.col(c) if isinstance(c, str) else c  # noqa: E731
    return _resize_udf(as_col(bytes_col), as_col(fmt_col))


# ---------------------------------------------------------------------------
# Image METADATA quality rules (no decode) — the LAION/DataComp-style gate
# ---------------------------------------------------------------------------

IMAGE_RULE_FIELDS = (
    "megapixels",
    "aspect_ratio",
    "bytes_per_pixel",
    "dims_ok",
    "aspect_ok",
    "bpp_ok",
    "fmt_ok",
    "image_keep",
)


def image_quality_rules(
    w_col: Column,
    h_col: Column,
    fmt_col: Column,
    nbytes_col: Column,
    min_dim: int = 64,
    max_dim: int = 8192,
    max_aspect: float = 3.0,
    min_bpp: float = 0.02,
    max_bpp: float = 16.0,
    fmt_allow: tuple[str, ...] = ("png", "jpeg", "gif", "webp"),
) -> Column:
    """Metadata-only image quality gate as ONE struct of pure-JVM
    expressions — the filter tier every web-scale image pipeline runs
    BEFORE any byte decode (LAION-5B §2.2 / DataComp filtering: dimension
    floors, aspect-ratio bounds, format allowlists; public papers).

    Because only (w, h, fmt, len(bytes)) are read, Catalyst prunes the
    bytes column out of the scan entirely when the caller projects just
    the rule struct — at 10^12 rows this gate costs a metadata-column
    scan, not an image scan. Flags:

    - ``dims_ok``: min(w,h) >= min_dim and max(w,h) <= max_dim (icons and
      decompression-bomb dimensions out);
    - ``aspect_ok``: max(w,h)/min(w,h) <= max_aspect (banner/sliver crops
      out — these are overwhelmingly ads/chrome, not photographs);
    - ``bpp_ok``: encoded bytes per pixel within [min_bpp, max_bpp]
      (sub-floor = truncated/placeholder payload, above-ceiling = corrupt
      or bomb-shaped encoding for any compressed format);
    - ``fmt_ok``: declared container in the allowlist.

    The reference gates records the same shape-level way before running
    models (corpusama/util/convert.py nan_to_none + pdf size checks);
    this is that idea applied to the image leg of the input_hint schema.
    """
    w = w_col.cast("double")
    h = h_col.cast("double")
    px = F.greatest(w * h, F.lit(1.0))
    aspect = F.greatest(w, h) / F.greatest(F.least(w, h), F.lit(1.0))
    bpp = nbytes_col.cast("double") / px
    dims_ok = (F.least(w_col, h_col) >= min_dim) & (
        F.greatest(w_col, h_col) <= max_dim
    )
    aspect_ok = aspect <= max_aspect
    bpp_ok = bpp.between(min_bpp, max_bpp)
    fmt_ok = F.lower(fmt_col).isin(*[f.lower() for f in fmt_allow])
    keep = dims_ok & aspect_ok & bpp_ok & fmt_ok
    return F.struct(
        F.round(w * h / 1_000_000.0, 4).alias("megapixels"),
        F.round(aspect, 4).alias("aspect_ratio"),
        F.round(bpp, 4).alias("bytes_per_pixel"),
        dims_ok.alias("dims_ok"),
        aspect_ok.alias("aspect_ok"),
        bpp_ok.alias("bpp_ok"),
        fmt_ok.alias("fmt_ok"),
        keep.alias("image_keep"),
    )


# ---------------------------------------------------------------------------
# QVID: a real (if minimal) multi-frame container for the video slot
# ---------------------------------------------------------------------------

QVID_MAGIC = b"QVID"


def encode_qvid(frames: list[np.ndarray], fmt: str = "jpeg") -> bytes:
    """Concatenate per-frame encodings with length prefixes."""
    import struct

    payload = b""
    for fr in frames:
        enc = encode_png(fr) if fmt == "png" else encode_qimg(fr, fmt)
        payload += struct.pack(">I", len(enc)) + enc
    return QVID_MAGIC + fmt[:4].ljust(4).encode() + struct.pack(
        ">I", len(frames)
    ) + payload


def _iter_frames(data: bytes):
    """Yield (frame_no, frame_bytes, fmt) from a video container.

    QVID containers decode natively; anything else routes through pyav when
    the wheel is present (real mp4/webm/etc., frames re-encoded as PNG for
    the downstream image operators) and otherwise raises ValueError, which
    the caller converts to zero rows for that video (tolerated failure).
    """
    import struct

    if data[:4] != QVID_MAGIC:
        try:  # pragma: no cover - exercised by tests/test_optional
            import av
        except ImportError:
            raise ValueError("not a QVID container and no video codec present")
        import io

        try:
            with av.open(io.BytesIO(bytes(data))) as container:
                for i, frame in enumerate(container.decode(video=0)):
                    yield i, encode_png(frame.to_ndarray(format="rgb24")), "png"
        except av.error.FFmpegError as exc:
            raise ValueError(f"undecodable video: {exc}") from None
        return
    # truncated headers/payloads must surface as ValueError (the tolerated-
    # failure contract: corrupt containers yield zero rows, not task errors)
    try:
        fmt = data[4:8].decode().strip()
        (n,) = struct.unpack(">I", data[8:12])
    except (struct.error, UnicodeDecodeError) as exc:
        raise ValueError(f"truncated QVID header: {exc}") from None
    off = 12
    for i in range(n):
        if off + 4 > len(data):
            raise ValueError("truncated QVID frame table")
        (ln,) = struct.unpack(">I", data[off : off + 4])
        off += 4
        if off + ln > len(data):
            raise ValueError("truncated QVID frame payload")
        yield i, data[off : off + ln], fmt
        off += ln


def sample_frames(
    df: DataFrame,
    id_col: str = "video_id",
    bytes_col: str = "bytes",
    every_k: int = 2,
) -> DataFrame:
    """(id, frame_no, fmt, frame) rows — every k-th frame of each video.

    mapInPandas explode in the scan stage: frames materialize only inside
    the Arrow batch, and corrupt containers contribute zero rows instead of
    failing the task. Downstream, ``image_features`` applies per frame.
    """
    schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType),
            StructField("frame_no", LongType()),
            StructField("fmt", StringType()),
            StructField("frame", BinaryType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for vid, data in zip(pdf[id_col], pdf[bytes_col]):
                if data is None:
                    continue
                try:
                    # buffer per video: a mid-payload truncation must yield
                    # ZERO rows for the video, never a partial frame list
                    vid_rows = [
                        (vid, i, fmt, frame)
                        for i, frame, fmt in _iter_frames(bytes(data))
                        if i % every_k == 0
                    ]
                except ValueError:
                    continue
                rows.extend(vid_rows)
            yield pd.DataFrame(
                rows, columns=[id_col, "frame_no", "fmt", "frame"]
            )

    return df.select(id_col, bytes_col).mapInPandas(gen, schema=schema)


def video_rules(
    df: DataFrame,
    fps_col: str = "fps",
    frames_col: str = "n_frames",
    w_col: str = "w",
    h_col: str = "h",
    min_seconds: float = 0.5,
    max_seconds: float = 3600.0,
    min_dim: int = 64,
    allowed_fps: tuple[int, ...] = (15, 24, 25, 30, 60),
) -> DataFrame:
    """Metadata-only VIDEO gate: keep/drop + first-failing reason from the
    declared (fps, frame count, resolution) — pure JVM expressions, the
    container bytes are never touched, so frame decode (`sample_frames`)
    only ever runs on survivors. Same staged-gate pattern as image_rules /
    audio_rules (both oracled); reasons are ordered most-fundamental-first
    so the first failure wins deterministically."""
    duration = F.col(frames_col) / F.col(fps_col)
    reason = (
        F.when(
            F.col(fps_col).isNull()
            | F.col(frames_col).isNull()
            | F.col(w_col).isNull()
            | F.col(h_col).isNull(),
            "video_meta_missing",
        )
        .when(~F.col(fps_col).isin(*allowed_fps), "video_fps_unsupported")
        .when(F.col(frames_col) <= 0, "video_empty")
        .when(
            (F.col(w_col) < min_dim) | (F.col(h_col) < min_dim),
            "video_tiny_resolution",
        )
        .when(duration < min_seconds, "video_too_short")
        .when(duration > max_seconds, "video_too_long")
        .otherwise(F.lit(None).cast("string"))
    )
    return df.withColumn("video_drop_reason", reason).withColumn(
        "video_keep", F.col("video_drop_reason").isNull()
    )


def channel_stats(
    df: DataFrame,
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
) -> DataFrame:
    """Dataset-level per-channel pixel statistics — the classic
    "compute the normalization mean/std before training" job (the
    numbers that become `transforms.Normalize(mean, std)`): 3 rows
    (r, g, b) with n_pixels, mean, std (population) over every
    decodable image, plus the global image / corrupt counts.

    Scale shape mirrors embed_covariance: decode happens ONLY inside
    Arrow batches in the scan stage; each batch emits 4 tiny partial
    rows (per-channel sum / sum-of-squares / pixel count + a counts
    row), so the shuffle carries O(partitions) rows and the bytes
    column never crosses it. Corrupt images count toward n_corrupt and
    contribute no pixels (tolerated-failure path, reference
    corpusama/source/pdf.py:91-105).
    """
    from corpusama_spark.io.imagecodec import decode_image as _dec

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            s = np.zeros(3)
            s2 = np.zeros(3)
            npx = 0
            nimg = 0
            ncorrupt = 0
            for data, fmt in zip(pdf[bytes_col], pdf[fmt_col]):
                nimg += 1
                try:
                    arr = _dec(bytes(data), str(fmt)).astype("float64")
                except Exception:
                    ncorrupt += 1
                    continue
                s += arr.sum(axis=(0, 1))
                s2 += (arr * arr).sum(axis=(0, 1))
                npx += arr.shape[0] * arr.shape[1]
            out = pd.DataFrame(
                {
                    "ch": np.arange(3, dtype="int32"),
                    "s": s,
                    "s2": s2,
                    "npx": np.full(3, npx, dtype="int64"),
                    "nimg": np.zeros(3, dtype="int64"),
                    "ncorrupt": np.zeros(3, dtype="int64"),
                }
            )
            counts = pd.DataFrame(
                {
                    "ch": np.array([-1], dtype="int32"),
                    "s": [0.0],
                    "s2": [0.0],
                    "npx": np.array([0], dtype="int64"),
                    "nimg": np.array([nimg], dtype="int64"),
                    "ncorrupt": np.array([ncorrupt], dtype="int64"),
                }
            )
            yield pd.concat([out, counts], ignore_index=True)

    parts = df.select(bytes_col, fmt_col).mapInPandas(
        gen,
        schema="ch int, s double, s2 double, npx long, nimg long,"
        " ncorrupt long",
    )
    agg = parts.groupBy("ch").agg(
        F.sum("s").alias("s"),
        F.sum("s2").alias("s2"),
        F.sum("npx").cast("long").alias("npx"),
        F.sum("nimg").cast("long").alias("nimg"),
        F.sum("ncorrupt").cast("long").alias("ncorrupt"),
    )
    tot = agg.where(F.col("ch") == -1).select(
        F.col("nimg").alias("n_images"),
        F.col("ncorrupt").alias("n_corrupt"),
    )
    mean = F.col("s") / F.col("npx")
    var = F.col("s2") / F.col("npx") - mean * mean
    return (
        agg.where(F.col("ch") >= 0)
        .crossJoin(F.broadcast(tot))
        .select(
            F.element_at(
                F.array(F.lit("r"), F.lit("g"), F.lit("b")),
                F.col("ch") + 1,
            ).alias("channel"),
            "n_images",
            "n_corrupt",
            F.col("npx").alias("n_pixels"),
            F.round(F.when(F.col("npx") > 0, mean), 6).alias("mean"),
            F.round(
                F.when(
                    F.col("npx") > 0,
                    F.sqrt(F.greatest(var, F.lit(0.0))),
                ),
                6,
            ).alias("std"),
        )
        .orderBy("channel")
    )


def sharpness_gate(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    min_lap_var: float = 1.0,
) -> DataFrame:
    """Variance-of-Laplacian blur gate (X186) — the standard "is this
    image in focus?" keep/drop signal for image training data (Pech-
    Pacheco et al. 2000; the cv2.Laplacian(...).var() folklore check):
    per image, the population variance of the 3×3 Laplacian of the
    ITU-R 601 luma, and keep = lap_var >= min_lap_var.

    Output: (id, lap_var double — 4 dp, sharp_keep boolean,
    sharp_reason string|NULL). Corrupt/undecodable images and images
    smaller than 3×3 fail with an explicit reason instead of raising
    (the tolerated-failure contract of functions/images.py).

    Scale shape: decode happens ONLY inside Arrow batches (mapInPandas
    in the scan stage); the emitted rows are (id, lap_var, reason) —
    pixels and bytes never shuffle. The Laplacian is pure-numpy slice
    arithmetic (no convolution library), one vectorized pass per image.
    """
    from corpusama_spark.io.imagecodec import decode_image as _dec

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            ids, lvs, reasons = [], [], []
            for iid, data, fmt in zip(
                pdf[id_col], pdf[bytes_col], pdf[fmt_col]
            ):
                ids.append(iid)
                try:
                    arr = _dec(bytes(data), str(fmt)).astype("float64")
                except Exception as e:  # noqa: BLE001 - tolerated-failure path
                    lvs.append(None)
                    reasons.append(f"decode_error:{type(e).__name__}")
                    continue
                if arr.shape[0] < 3 or arr.shape[1] < 3:
                    lvs.append(None)
                    reasons.append("too_small_for_laplacian")
                    continue
                luma = (
                    0.299 * arr[:, :, 0]
                    + 0.587 * arr[:, :, 1]
                    + 0.114 * arr[:, :, 2]
                )
                lap = (
                    luma[:-2, 1:-1]
                    + luma[2:, 1:-1]
                    + luma[1:-1, :-2]
                    + luma[1:-1, 2:]
                    - 4.0 * luma[1:-1, 1:-1]
                )
                lvs.append(float(np.round(lap.var(), 4)))
                reasons.append(None)
            yield pd.DataFrame(
                {"id": ids, "lap_var": lvs, "reason": reasons}
            )

    parts = df.select(
        F.col(id_col).cast("string").alias(id_col), bytes_col, fmt_col
    ).mapInPandas(gen, schema="id string, lap_var double, reason string")
    return parts.select(
        F.col("id").alias(id_col),
        "lap_var",
        F.when(F.col("reason").isNotNull(), F.lit(False))
        .otherwise(F.col("lap_var") >= F.lit(float(min_lap_var)))
        .alias("sharp_keep"),
        F.when(F.col("reason").isNotNull(), F.col("reason"))
        .when(
            F.col("lap_var") < F.lit(float(min_lap_var)),
            F.lit("blurry"),
        )
        .alias("sharp_reason"),
    )


def colorfulness_gate(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    gray_tol: float = 2.0,
    min_colorfulness: float = 5.0,
) -> DataFrame:
    """Grayscale / flat-color gate (X198): per image, the Hasler &
    Süsstrunk 2003 colorfulness metric M = σ_rgyb + 0.3·μ_rgyb over
    the opponent axes rg = R−G, yb = (R+G)/2 − B, plus the mean
    channel spread max(R,G,B) − min(R,G,B) and an ``is_gray`` flag
    (mean spread ≤ ``gray_tol``). Image-caption training corpora are
    poisoned by scanned documents, logos on white, and single-color
    placeholders — all near-zero on both signals; photographs score
    M ≳ 20. keep = decodable AND NOT gray AND M ≥ ``min_colorfulness``.

    Output: (id, is_gray, mean_spread 4 dp, colorfulness 4 dp,
    color_keep, color_reason|NULL); corrupt images fail with a reason,
    never raise (tolerated-failure contract).

    Scale shape: decode only inside Arrow batches in the scan stage —
    per image the batch emits 4 scalars, so pixels/bytes never shuffle;
    both metrics are single vectorized numpy passes.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            ids, grays, spreads, colors, reasons = [], [], [], [], []
            for iid, data, fmt in zip(
                pdf[id_col], pdf[bytes_col], pdf[fmt_col]
            ):
                ids.append(iid)
                try:
                    arr = decode_image(bytes(data), str(fmt)).astype(
                        "float64"
                    )
                except Exception as e:  # noqa: BLE001 - tolerated failures
                    grays.append(None)
                    spreads.append(None)
                    colors.append(None)
                    reasons.append(f"decode_error:{type(e).__name__}")
                    continue
                r, g, b = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
                spread = float(
                    np.round((arr.max(axis=2) - arr.min(axis=2)).mean(), 4)
                )
                rg = r - g
                yb = 0.5 * (r + g) - b
                sigma = float(np.sqrt(rg.var() + yb.var()))
                mu = float(
                    np.sqrt(rg.mean() ** 2 + yb.mean() ** 2)
                )
                m = float(np.round(sigma + 0.3 * mu, 4))
                grays.append(bool(spread <= gray_tol))
                spreads.append(spread)
                colors.append(m)
                reasons.append(None)
            yield pd.DataFrame(
                {
                    "id": ids,
                    "is_gray": pd.array(grays, dtype="boolean"),
                    "mean_spread": spreads,
                    "colorfulness": colors,
                    "reason": reasons,
                }
            )

    parts = df.select(
        F.col(id_col).cast("string").alias(id_col), bytes_col, fmt_col
    ).mapInPandas(
        gen,
        schema="id string, is_gray boolean, mean_spread double,"
        " colorfulness double, reason string",
    )
    return parts.select(
        F.col("id").alias(id_col),
        "is_gray",
        "mean_spread",
        "colorfulness",
        F.when(F.col("reason").isNotNull(), F.lit(False))
        .otherwise(
            ~F.col("is_gray")
            & (F.col("colorfulness") >= F.lit(float(min_colorfulness)))
        )
        .alias("color_keep"),
        F.when(F.col("reason").isNotNull(), F.col("reason"))
        .when(F.col("is_gray"), F.lit("grayscale"))
        .when(
            F.col("colorfulness") < F.lit(float(min_colorfulness)),
            F.lit("low_colorfulness"),
        )
        .alias("color_reason"),
    )


def border_crop_audit(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    flat_tol: float = 4.0,
    letterbox_frac: float = 0.08,
) -> DataFrame:
    """Uniform-border / letterbox audit (X199): per image, count the
    consecutive FLAT rows from the top/bottom and flat columns from the
    left/right (a line is flat when every channel's max−min along it is
    ≤ ``flat_tol``), emit the implied content crop box and flag
    letterboxing (top AND bottom bands each ≥ ``letterbox_frac`` of the
    height) / pillarboxing (same on columns). Broadcast-TV rips, padded
    thumbnails and screenshot chrome are the classic contaminants; the
    crop box is what a resize stage should consume INSTEAD of the full
    frame, and content_frac is the wasted-pixel budget.

    Output: (id, top, bottom, left, right — flat line counts,
    content_w, content_h, content_frac 4 dp, letterbox, pillarbox,
    border_reason|NULL). Fully-flat images crop to zero content and get
    reason 'all_flat'; corrupt images a decode reason — neither raises.

    Scale shape: decode only inside Arrow batches; per image the line
    flatness is two vectorized reductions (axis-1 and axis-0 max−min)
    and the consecutive-run count is argmin over a boolean vector —
    O(w+h) after the reduction, no Python loops over pixels, and only
    11 scalars per image ever shuffle.
    """

    def _runs(flat: np.ndarray) -> tuple[int, int]:
        n = len(flat)
        if flat.all():
            return n, 0
        lead = int(np.argmin(flat))  # first non-flat index
        trail = int(np.argmin(flat[::-1]))
        return lead, trail

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for iid, data, fmt in zip(
                pdf[id_col], pdf[bytes_col], pdf[fmt_col]
            ):
                try:
                    arr = decode_image(bytes(data), str(fmt)).astype(
                        "float64"
                    )
                except Exception as e:  # noqa: BLE001 - tolerated failures
                    rows.append(
                        (iid, None, None, None, None, None, None, None,
                         None, None, f"decode_error:{type(e).__name__}")
                    )
                    continue
                h, w = arr.shape[0], arr.shape[1]
                row_flat = (
                    arr.max(axis=1) - arr.min(axis=1)
                ).max(axis=1) <= flat_tol
                col_flat = (
                    arr.max(axis=0) - arr.min(axis=0)
                ).max(axis=1) <= flat_tol
                top, bottom = _runs(row_flat)
                left, right = _runs(col_flat)
                ch = max(h - top - bottom, 0)
                cw = max(w - left - right, 0)
                if ch == 0 or cw == 0:
                    rows.append(
                        (iid, top, bottom, left, right, 0, 0, 0.0,
                         False, False, "all_flat")
                    )
                    continue
                rows.append(
                    (
                        iid, top, bottom, left, right, cw, ch,
                        float(np.round(cw * ch / (w * h), 4)),
                        bool(
                            top >= letterbox_frac * h
                            and bottom >= letterbox_frac * h
                        ),
                        bool(
                            left >= letterbox_frac * w
                            and right >= letterbox_frac * w
                        ),
                        None,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "top", "bottom", "left", "right",
                    "content_w", "content_h", "content_frac",
                    "letterbox", "pillarbox", "border_reason",
                ],
            )

    return df.select(
        F.col(id_col).cast("string").alias(id_col), bytes_col, fmt_col
    ).mapInPandas(
        gen,
        schema="id string, top int, bottom int, left int, right int,"
        " content_w int, content_h int, content_frac double,"
        " letterbox boolean, pillarbox boolean, border_reason string",
    ).withColumnRenamed("id", id_col)


def shot_boundaries(
    df: DataFrame,
    id_col: str = "video_id",
    bytes_col: str = "bytes",
    nbins: int = 16,
    tau: float = 0.5,
) -> DataFrame:
    """Shot segmentation per video (the classic luma-histogram cut
    detector — Zhang, Kankanhalli & Smoliar 1993): per frame, a
    ``nbins``-bin normalized luma histogram; a SHOT BOUNDARY is a
    frame whose L1 histogram distance to its predecessor exceeds
    ``tau`` (distances live in [0, 2]; hard cuts between scenes score
    near 2, in-scene noise near 0). Output one row per shot:
    (id, shot_no, start_frame, n_frames, cut_dist 4 dp — the distance
    that opened the shot, 0.0 for the first). Sampling ONE keyframe
    per shot instead of every-k-th frame is the curation win: constant
    scenes collapse to a single frame, fast cuts keep their variety.

    Scale shape: decode + histograms + the sequential boundary scan
    run per video inside Arrow batches (frame count per clip is
    bounded); only shot-sized rows shuffle. Corrupt containers emit
    zero rows (tolerated-failure contract, same as sample_frames)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for vid, data in zip(pdf["id"], pdf["b"]):
                if data is None:
                    continue
                try:
                    hists = []
                    for _i, fb, fmt in _iter_frames(bytes(data)):
                        arr = decode_image(fb, fmt).astype("float64")
                        luma = (
                            0.299 * arr[:, :, 0]
                            + 0.587 * arr[:, :, 1]
                            + 0.114 * arr[:, :, 2]
                        )
                        h, _ = np.histogram(
                            luma, bins=nbins, range=(0.0, 256.0)
                        )
                        hists.append(h / max(h.sum(), 1))
                except ValueError:
                    continue  # corrupt container -> zero rows
                if not hists:
                    continue
                starts = [(0, 0.0)]
                for i in range(1, len(hists)):
                    d = float(np.abs(hists[i] - hists[i - 1]).sum())
                    if d > tau:
                        starts.append((i, d))
                starts.append((len(hists), 0.0))
                for s in range(len(starts) - 1):
                    rows.append(
                        (
                            vid,
                            s,
                            starts[s][0],
                            starts[s + 1][0] - starts[s][0],
                            float(np.round(starts[s][1], 4)),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "shot_no", "start_frame", "n_frames", "cut_dist",
                ],
            )

    return df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(bytes_col).alias("b"),
    ).mapInPandas(
        gen,
        schema="id long, shot_no int, start_frame int, n_frames int,"
        " cut_dist double",
    ).withColumnRenamed("id", id_col)


def exposure_gate(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    max_clip: float = 0.25,
    min_dynamic_range: int = 16,
    min_entropy: float = 1.0,
) -> DataFrame:
    """Exposure / contrast / information gate (X212) — the "is there a
    usable picture here at all?" triage for crawled image corpora,
    complementing the blur (X186) and colorfulness (X198) gates: per
    image, from the ITU-R 601 luma,

    - ``clip_low`` / ``clip_high``: share of pixels in the crushed
      shadows (luma < 8) / blown highlights (luma > 247) — flat black /
      flat white frames, scanner misfires, dead thumbnails;
    - ``dyn_range``: p99 − p1 of luma (robust contrast; a near-constant
      slide has ~0);
    - ``luma_entropy``: Shannon entropy (bits) of the 64-bin luma
      histogram — the standard exposure-quality proxy (a well-exposed
      photo ≈ 4–6 bits; a solid color is 0);

    keep iff max(clip_low, clip_high) <= max_clip AND dyn_range >=
    min_dynamic_range AND luma_entropy >= min_entropy, with the first
    failing reason reported (under/overexposed, low_contrast,
    low_entropy). Corrupt bytes fail with decode_error:* instead of
    raising (the tolerated-failure contract).

    Scale shape: decode ONLY inside Arrow batches (mapInPandas in the
    scan stage); emitted rows are a handful of doubles per image —
    pixels/bytes never shuffle. Histogram, percentiles, and entropy are
    one np.bincount per image.
    """
    from corpusama_spark.io.imagecodec import decode_image as _dec

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out = {
                "id": [],
                "clip_low": [],
                "clip_high": [],
                "dyn_range": [],
                "luma_entropy": [],
                "reason": [],
            }
            for iid, data, fmt in zip(
                pdf[id_col], pdf[bytes_col], pdf[fmt_col]
            ):
                out["id"].append(iid)
                try:
                    arr = _dec(bytes(data), str(fmt)).astype("float64")
                except Exception as e:  # noqa: BLE001 - tolerated failures
                    for k in (
                        "clip_low",
                        "clip_high",
                        "dyn_range",
                        "luma_entropy",
                    ):
                        out[k].append(None)
                    out["reason"].append(
                        f"decode_error:{type(e).__name__}"
                    )
                    continue
                luma = (
                    0.299 * arr[:, :, 0]
                    + 0.587 * arr[:, :, 1]
                    + 0.114 * arr[:, :, 2]
                )
                lu8 = np.clip(np.round(luma), 0, 255).astype("int64")
                n = lu8.size
                hist = np.bincount(lu8.ravel(), minlength=256)
                clo = float(np.round(hist[:8].sum() / n, 6))
                chi = float(np.round(hist[248:].sum() / n, 6))
                p1, p99 = np.percentile(lu8, [1.0, 99.0])
                dyn = int(p99 - p1)
                h64 = hist.reshape(64, 4).sum(axis=1)
                p = h64[h64 > 0] / n
                ent = float(np.round(-(p * np.log2(p)).sum(), 4))
                out["clip_low"].append(clo)
                out["clip_high"].append(chi)
                out["dyn_range"].append(dyn)
                out["luma_entropy"].append(ent)
                out["reason"].append(None)
            yield pd.DataFrame(out)

    parts = df.select(
        F.col(id_col).cast("string").alias(id_col), bytes_col, fmt_col
    ).mapInPandas(
        gen,
        schema=(
            "id string, clip_low double, clip_high double, "
            "dyn_range long, luma_entropy double, reason string"
        ),
    )
    failed = F.col("reason").isNotNull()
    return parts.select(
        F.col("id").alias(id_col),
        "clip_low",
        "clip_high",
        "dyn_range",
        "luma_entropy",
        F.when(failed, F.lit(False))
        .otherwise(
            (F.greatest("clip_low", "clip_high") <= F.lit(float(max_clip)))
            & (F.col("dyn_range") >= F.lit(int(min_dynamic_range)))
            & (F.col("luma_entropy") >= F.lit(float(min_entropy)))
        )
        .alias("exposure_keep"),
        F.when(failed, F.col("reason"))
        .when(F.col("clip_high") > F.lit(float(max_clip)), F.lit("overexposed"))
        .when(F.col("clip_low") > F.lit(float(max_clip)), F.lit("underexposed"))
        .when(
            F.col("dyn_range") < F.lit(int(min_dynamic_range)),
            F.lit("low_contrast"),
        )
        .when(
            F.col("luma_entropy") < F.lit(float(min_entropy)),
            F.lit("low_entropy"),
        )
        .alias("exposure_reason"),
    )


def textiness_gate(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    edge_thresh: int = 24,
    min_edge_density: float = 0.08,
    min_row_cv: float = 0.6,
) -> DataFrame:
    """Text-in-image likeness gate (X217) — the meme/screenshot/
    rendered-text triage every web-scale image-caption curation applies
    (LAION-style pipelines drop text-dominated images because the
    caption model just learns to OCR): no OCR model needed, text
    regions betray themselves as DENSE HORIZONTAL GRADIENTS arranged in
    HORIZONTAL BANDS (glyph strokes along text lines). Per image, from
    the ITU-R 601 luma:

    - ``edge_density``: share of horizontal-gradient magnitudes above
      ``edge_thresh`` (|luma[x+1] − luma[x]| — glyph edges; smooth
      photos sit well below text renders);
    - ``row_cv``: population coefficient of variation of the per-row
      edge counts — text concentrates edges in line bands (high CV),
      textures spread them uniformly (CV → 0);
    - ``band_share``: share of rows carrying more than 2× the mean row
      edge count (the "text line" rows themselves);
    - ``text_likely``: edge_density >= min_edge_density AND row_cv >=
      min_row_cv — dense AND banded, the two-signal conjunction that
      keeps busy natural textures (dense but uniform) and sparse
      diagrams (banded but thin) out of the drop set.

    Corrupt bytes fail with reason decode_error:* instead of raising
    (the tolerated-failure contract). Scale shape: decode ONLY inside
    Arrow batches (mapInPandas in the scan stage); 3 doubles + 1 bool
    per image shuffle — pixels/bytes never do.
    """
    from corpusama_spark.io.imagecodec import decode_image as _dec

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out = {
                "id": [],
                "edge_density": [],
                "row_cv": [],
                "band_share": [],
                "reason": [],
            }
            for iid, data, fmt in zip(
                pdf[id_col], pdf[bytes_col], pdf[fmt_col]
            ):
                out["id"].append(iid)
                try:
                    arr = _dec(bytes(data), str(fmt)).astype("float64")
                except Exception as e:  # noqa: BLE001 - tolerated failures
                    out["edge_density"].append(None)
                    out["row_cv"].append(None)
                    out["band_share"].append(None)
                    out["reason"].append(
                        f"decode_error:{type(e).__name__}"
                    )
                    continue
                luma = (
                    0.299 * arr[:, :, 0]
                    + 0.587 * arr[:, :, 1]
                    + 0.114 * arr[:, :, 2]
                )
                gx = np.abs(np.diff(luma, axis=1))
                if gx.size == 0:  # 1-pixel-wide image
                    out["edge_density"].append(0.0)
                    out["row_cv"].append(0.0)
                    out["band_share"].append(0.0)
                    out["reason"].append(None)
                    continue
                edges = gx > float(edge_thresh)
                density = float(np.round(edges.mean(), 6))
                rc = edges.sum(axis=1).astype("float64")
                mean_rc = float(rc.mean())
                if mean_rc > 0:
                    cv = float(np.round(rc.std() / mean_rc, 6))
                    band = float(np.round((rc > 2.0 * mean_rc).mean(), 6))
                else:
                    cv, band = 0.0, 0.0
                out["edge_density"].append(density)
                out["row_cv"].append(cv)
                out["band_share"].append(band)
                out["reason"].append(None)
            yield pd.DataFrame(out)

    parts = df.select(
        F.col(id_col).cast("string").alias(id_col), bytes_col, fmt_col
    ).mapInPandas(
        gen,
        schema=(
            "id string, edge_density double, row_cv double, "
            "band_share double, reason string"
        ),
    )
    failed = F.col("reason").isNotNull()
    return parts.select(
        F.col("id").alias(id_col),
        "edge_density",
        "row_cv",
        "band_share",
        F.when(failed, F.lit(False))
        .otherwise(
            (F.col("edge_density") >= F.lit(float(min_edge_density)))
            & (F.col("row_cv") >= F.lit(float(min_row_cv)))
        )
        .alias("text_likely"),
        F.col("reason").alias("textiness_reason"),
    )


# ---------------------------------------------------------------------------
# X236: phash distortion-robustness audit. X14 bands phash64 for image
# near-dup dedup and X227 measures band recall AT a given bit distance —
# this answers the question in between: which real-world DISTORTIONS land
# within that distance at all? A re-served image is rarely byte-identical:
# it's been resized, brightness-shifted, letterboxed, or cropped. The audit
# applies deterministic distortions to each image (decode once per row, all
# in one Arrow batch), re-hashes, and reports per-family bit-flip stats plus
# the share that survives the configured banding radius — the evidence for
# choosing the dedup threshold before loosening it corpus-wide.
# ---------------------------------------------------------------------------

DISTORTIONS = ("identity", "resize_half", "brighten", "crop_border", "letterbox")


def _distort(arr: np.ndarray, kind: str) -> np.ndarray:
    h, w = arr.shape[:2]
    if kind == "identity":
        return arr
    if kind == "resize_half":
        return resize_nn(arr, max(w // 2, 1), max(h // 2, 1))
    if kind == "brighten":
        return np.clip(arr.astype(np.int16) + 24, 0, 255).astype(np.uint8)
    if kind == "crop_border":
        dy, dx = max(h // 10, 1), max(w // 10, 1)
        if h - 2 * dy < 1 or w - 2 * dx < 1:
            return arr
        return arr[dy : h - dy, dx : w - dx]
    if kind == "letterbox":
        pad = max(h // 8, 1)
        out = np.zeros((h + 2 * pad, w, 3), dtype=np.uint8)
        out[pad : pad + h] = arr
        return out
    raise ValueError(f"unknown distortion {kind!r}")


def phash_distortion_flips(
    df: DataFrame,
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    id_col: str = "image_id",
    kinds: tuple = DISTORTIONS,
) -> DataFrame:
    """(id, kind, flips): hamming bit flips between each image's phash
    and the phash of its ``kind``-distorted twin; corrupt images emit no
    rows (the tolerated-failure path). Decode happens ONCE per row for
    all kinds, inside an Arrow batch; only (id, kind, flips) integers
    leave Python — bytes never shuffle.

    Rows-only contract (decode + DCT aren't SQL); the aggregation twin
    ``phash_robustness`` is plain relational on top of this output.
    """
    kinds = tuple(kinds)

    @F.pandas_udf("array<struct<kind: string, flips: int>>")
    def _flips(bs: pd.Series, fmts: pd.Series) -> pd.Series:
        out = []
        for b, fmt in zip(bs, fmts):
            try:
                arr = decode_image(bytes(b), fmt)
                base = phash64(arr)
                row = []
                for k in kinds:
                    d = phash64(_distort(arr, k))
                    row.append(
                        {"kind": k, "flips": int(bin((base ^ d) & ((1 << 64) - 1)).count("1"))}
                    )
                out.append(row)
            except Exception:
                out.append(None)
        return pd.Series(out)

    return (
        df.select(id_col, _flips(F.col(bytes_col), F.col(fmt_col)).alias("_f"))
        .where(F.col("_f").isNotNull())
        .select(id_col, F.explode("_f").alias("x"))
        .select(id_col, F.col("x.kind").alias("kind"), F.col("x.flips").alias("flips"))
    )


def phash_robustness(
    flips: DataFrame, band_radius: int = 8
) -> DataFrame:
    """Per-distortion summary of phash_distortion_flips output:
    (kind, n, mean_flips, max_flips, survive_share) where survive_share
    is the fraction of images whose distorted twin stays within
    ``band_radius`` bits — i.e. would still be CAUGHT by the X14/X227
    banded dedup at that radius. One map-side-combinable groupBy."""
    return (
        flips.groupBy("kind")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("flips"), 6).alias("mean_flips"),
            F.max("flips").alias("max_flips"),
            F.round(
                F.avg((F.col("flips") <= band_radius).cast("double")), 6
            ).alias("survive_share"),
        )
        .orderBy("kind")
    )


# ---------------------------------------------------------------------------
# X237 (hash stage): quadrant perceptual hashes for PARTIAL-duplicate
# detection. Whole-image phash (X13) misses crop/collage reuse — an image
# whose top-left quarter is lifted from another image lands 30+ bits away on
# the full hash. Hashing the four quadrants separately lets the dedup side
# (operators/dedup.py partial_dup_pairs) band-join per quadrant: a region
# reused verbatim still collides on ITS quadrant even when the rest differs.
# ---------------------------------------------------------------------------

QUAD_SCHEMA = (
    "struct<ph_full: long, ph_q0: long, ph_q1: long, ph_q2: long, ph_q3: long>"
)


def _quadrants(arr: np.ndarray):
    h, w = arr.shape[:2]
    hy, hx = max(h // 2, 1), max(w // 2, 1)
    return (
        arr[:hy, :hx],
        arr[:hy, hx:] if w > 1 else arr[:hy, :hx],
        arr[hy:, :hx] if h > 1 else arr[:hy, :hx],
        arr[hy:, hx:] if (h > 1 and w > 1) else arr[:hy, :hx],
    )


def quadrant_phashes(
    df: DataFrame,
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    id_col: str = "image_id",
) -> DataFrame:
    """(id, ph_full, ph_q0..ph_q3): the full phash plus one per quadrant
    (q0 top-left, q1 top-right, q2 bottom-left, q3 bottom-right). One
    decode per row inside an Arrow batch — five int64 leave Python,
    bytes never shuffle. Corrupt images emit no row."""

    @F.pandas_udf(QUAD_SCHEMA)
    def _qhash(bs: pd.Series, fmts: pd.Series) -> pd.DataFrame:
        rows = []
        for b, fmt in zip(bs, fmts):
            try:
                arr = decode_image(bytes(b), fmt)
                qs = [phash64(q) for q in _quadrants(arr)]
                rows.append((phash64(arr), qs[0], qs[1], qs[2], qs[3]))
            except Exception:
                rows.append((None, None, None, None, None))
        return pd.DataFrame(
            rows, columns=["ph_full", "ph_q0", "ph_q1", "ph_q2", "ph_q3"]
        )

    return (
        df.select(id_col, _qhash(F.col(bytes_col), F.col(fmt_col)).alias("_h"))
        .where(F.col("_h.ph_full").isNotNull())
        .select(
            id_col,
            F.col("_h.ph_full").alias("ph_full"),
            F.col("_h.ph_q0").alias("ph_q0"),
            F.col("_h.ph_q1").alias("ph_q1"),
            F.col("_h.ph_q2").alias("ph_q2"),
            F.col("_h.ph_q3").alias("ph_q3"),
        )
    )


# ---------------------------------------------------------------------------
# X242: skin-share pre-filter. Production NSFW filtering runs a model; at
# 10^12 images you don't run the model on everything — you run a cheap
# decode-stage heuristic that routes the suspicious slice to the expensive
# scorer (the same tiering as IVF-before-brute-force). The classic RGB skin
# rule (Peer et al. 2003 / Fleck-Forsyth family, public) is that pre-filter:
# per-image share of skin-classified pixels, plus the center-crop share
# (subject-centered composition raises prior). A real model slots in behind
# the same seam (FastTextAdapter precedent).
# ---------------------------------------------------------------------------


def _skin_mask(arr: np.ndarray) -> np.ndarray:
    r = arr[..., 0].astype(np.int16)
    g = arr[..., 1].astype(np.int16)
    b = arr[..., 2].astype(np.int16)
    mx = np.maximum(np.maximum(r, g), b)
    mn = np.minimum(np.minimum(r, g), b)
    return (
        (r > 95)
        & (g > 40)
        & (b > 20)
        & (mx - mn > 15)
        & (np.abs(r - g) > 15)
        & (r > g)
        & (r > b)
    )


def skin_gate(
    df: DataFrame,
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    id_col: str = "image_id",
    max_share: float = 0.4,
    max_center_share: float = 0.6,
) -> DataFrame:
    """(id, skin_share, center_skin_share, route_to_scorer): share of
    skin-rule pixels over the whole frame and over the center half-crop;
    ``route_to_scorer`` flags images exceeding EITHER threshold for the
    expensive model tier. Shares are exact pixel-count ratios rounded to
    6dp (integer counts → one division). Corrupt images emit no row —
    they're already dropped by the decode gate upstream.

    Rows-only (decode UDF); numpy-mirror pytest. Decode once per row in
    an Arrow batch; two integers + two doubles cross the boundary."""

    @F.pandas_udf(
        "struct<skin_share: double, center_skin_share: double>"
    )
    def _skin(bs: pd.Series, fmts: pd.Series) -> pd.DataFrame:
        rows = []
        for raw, fmt in zip(bs, fmts):
            try:
                arr = decode_image(bytes(raw), fmt)
                m = _skin_mask(arr)
                h, w = m.shape
                total = round(float(m.sum()) / (h * w), 6)
                cy, cx = h // 4, w // 4
                c = m[cy : cy + max(h // 2, 1), cx : cx + max(w // 2, 1)]
                center = round(float(c.sum()) / c.size, 6) if c.size else 0.0
                rows.append((total, center))
            except Exception:
                rows.append((None, None))
        return pd.DataFrame(rows, columns=["skin_share", "center_skin_share"])

    out = (
        df.select(id_col, _skin(F.col(bytes_col), F.col(fmt_col)).alias("_s"))
        .where(F.col("_s.skin_share").isNotNull())
        .select(
            id_col,
            F.col("_s.skin_share").alias("skin_share"),
            F.col("_s.center_skin_share").alias("center_skin_share"),
        )
    )
    return out.select(
        "*",
        (
            (F.col("skin_share") > max_share)
            | (F.col("center_skin_share") > max_center_share)
        ).alias("route_to_scorer"),
    )
