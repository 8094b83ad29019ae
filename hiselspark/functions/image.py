"""Image-payload feature extraction.

Images ride as opaque ``binary`` columns with typed metadata
``(w, h, fmt)`` per the input hint.  Feature extraction is split into:

* **JVM-side bit features** — ``phash`` unpacked to 64 {0,1} integer
  columns and a hamming-weight column with built-in expressions only
  (no Python), so Catalyst codegens them;
* **Arrow-batched pixel statistics** — decode ``bytes`` per ``fmt`` and
  compute per-channel mean/std + quantiles inside ``mapInPandas``.
  Implemented codecs: ``raw`` (uncompressed RGB8, exact), ``raw6``
  (6-bit quantized lossy with a provable PSNR ≥ 42 dB ≥ 40 dB floor),
  ``png`` — a REAL standards-compliant PNG codec built on stdlib
  zlib + NumPy (:mod:`hiselspark.functions.png`), lossless and
  cross-checked against libpng in tests — and ``jpeg``/``webp``,
  REAL codecs bound to the system libgd (libjpeg-turbo / libwebp)
  through ctypes (:mod:`hiselspark.functions.gdcodec`), exercising
  the PSNR >= 40 dB lossy contract end-to-end.  Where libgd is absent
  the jpeg/webp entries degrade to ``NotImplementedError`` behind the
  same registry.  The Spark-side plumbing (schema, batching, UDF
  signatures) is identical for every codec and is what the tests
  exercise.

Every per-image featurizer is a per-batch body ``_<name>_frame(pdf)``
built on two helpers: :func:`_each_image`, the one shape-grouped batch
loop (same-shape ``raw`` payloads as chunked uint8 cubes, other codecs
decoded one image at a time), and :func:`_map_images`, the one
``mapInPandas`` shell (input schema minus the payload, plus the
features).  The payload transforms (``augment_images``,
``resize_images``) keep the payload, so they share
:func:`_transform_images` instead.
"""
from __future__ import annotations

from typing import Callable, Dict, Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

# ---------------------------------------------------------------------------
# phash bit features (pure JVM expressions)
# ---------------------------------------------------------------------------


def phash_bit_columns(df: DataFrame, phash_col: str = "phash",
                      n_bits: int = 64, prefix: str = "pbit") -> DataFrame:
    """Unpack a 64-bit perceptual hash into ``n_bits`` {0,1} integer
    columns ``{prefix}{i}`` — delta-kernel features for HSIC selection.
    Built-in shift/mask expressions only."""
    cols = [
        F.shiftrightunsigned(F.col(phash_col), i)
        .bitwiseAND(F.lit(1).cast("long"))
        .cast("int").alias(f"{prefix}{i}")
        for i in range(n_bits)
    ]
    return df.select("*", *cols)


def phash_hamming_weight(df: DataFrame, phash_col: str = "phash",
                         out_col: str = "phash_weight") -> DataFrame:
    """Population count of the hash — a cheap numeric summary feature."""
    return df.withColumn(out_col, F.bit_count(phash_col).cast("int"))


def phash_hamming_distance(a, b):
    """Column expression: hamming distance between two phash columns
    (used by near-duplicate detection)."""
    return F.bit_count(F.col(a).bitwiseXOR(F.col(b)))


# ---------------------------------------------------------------------------
# decoding (codec registry; 'raw' implemented, lossy codecs stubbed)
# ---------------------------------------------------------------------------

def _decode_raw(buf: bytes, w: int, h: int) -> np.ndarray:
    arr = np.frombuffer(buf, dtype=np.uint8)
    if arr.size != w * h * 3:
        raise ValueError(
            f"raw buffer has {arr.size} bytes, expected {w * h * 3}")
    return arr.reshape(h, w, 3)


def encode_raw6(img: np.ndarray) -> bytes:
    """LOSSY 6-bit quantized RGB: every channel value keeps its 6 most
    significant bits, bit-packed 4 values -> 3 bytes (75% of raw size).
    Quantization error is bounded by +-2 after centered reconstruction,
    so PSNR >= 10*log10(255^2 / 4) ~ 42 dB for ANY content — a real
    lossy codec with a provable floor over the 40 dB contract, needing
    no image library.  Vectorized NumPy both ways."""
    q = (np.asarray(img, dtype=np.uint8) >> 2).reshape(-1)
    pad = (-len(q)) % 4
    if pad:
        q = np.concatenate([q, np.zeros(pad, dtype=np.uint8)])
    g = q.reshape(-1, 4).astype(np.uint32)
    word = (g[:, 0] << 18) | (g[:, 1] << 12) | (g[:, 2] << 6) | g[:, 3]
    out = np.empty((len(word), 3), dtype=np.uint8)
    out[:, 0] = word >> 16
    out[:, 1] = (word >> 8) & 0xFF
    out[:, 2] = word & 0xFF
    return out.tobytes()


def _decode_raw6(buf: bytes, w: int, h: int) -> np.ndarray:
    n = w * h * 3
    packed = np.frombuffer(buf, dtype=np.uint8).reshape(-1, 3)
    word = ((packed[:, 0].astype(np.uint32) << 16)
            | (packed[:, 1].astype(np.uint32) << 8)
            | packed[:, 2].astype(np.uint32))
    vals = np.empty((len(word), 4), dtype=np.uint8)
    vals[:, 0] = (word >> 18) & 0x3F
    vals[:, 1] = (word >> 12) & 0x3F
    vals[:, 2] = (word >> 6) & 0x3F
    vals[:, 3] = word & 0x3F
    q = vals.reshape(-1)[:n]
    # centered reconstruction: v = q*4 + 2, clipped to the top bin
    return np.minimum(q.astype(np.uint16) * 4 + 2, 255).astype(
        np.uint8).reshape(h, w, 3)


def _unavailable(fmt: str) -> Callable[..., np.ndarray]:
    def _raise(buf, w, h):
        raise NotImplementedError(
            f"codec '{fmt}' needs an image library (PIL/libvips) that is "
            "not available in this environment; extend CODECS to add it")
    return _raise


def _decode_jpeg(buf: bytes, w: int, h: int) -> np.ndarray:
    from .gdcodec import decode_jpeg
    return decode_jpeg(bytes(buf), w, h)


def _decode_webp(buf: bytes, w: int, h: int) -> np.ndarray:
    from .gdcodec import decode_webp
    return decode_webp(bytes(buf), w, h)


def _decode_png(buf: bytes, w: int, h: int) -> np.ndarray:
    from .png import decode_png
    return decode_png(bytes(buf), w, h)


CODECS: Dict[str, Callable[[bytes, int, int], np.ndarray]] = {
    "raw": _decode_raw,
    "raw6": _decode_raw6,
    "png": _decode_png,
    # real codecs when the system libgd is present (it is, in this
    # sandbox); gdcodec raises NotImplementedError itself when not
    "jpeg": _decode_jpeg,
    "webp": _decode_webp,
}


def decode_image(buf: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    """Decode to ``(h, w, 3)`` uint8.  The per-row invariant for lossy
    codecs is PSNR >= 40 dB vs the encoder input; for 'raw' decoding is
    exact."""
    try:
        codec = CODECS[fmt]
    except KeyError:
        raise NotImplementedError(f"unknown image format: {fmt}")
    return codec(buf, w, h)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB (inf for identical images)."""
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0 ** 2 / mse))


# ---------------------------------------------------------------------------
# per-image batching: one shape-grouped loop, one mapInPandas shell
# ---------------------------------------------------------------------------


def _each_image(pdf: pd.DataFrame,
                fill: Callable[[np.ndarray, np.ndarray], None]) -> None:
    """Call ``fill(rows, cube)`` for every image of the batch ``pdf``
    (columns ``bytes``, ``w``, ``h`` and ``fmt``; no ``fmt`` column
    means all ``raw``): same-shape ``raw`` payloads as ONE
    ``(m, h, w, 3)`` uint8 cube per chunk (no per-row decode), every
    image of another codec decoded through :func:`decode_image` as a
    ``(1, h, w, 3)`` cube.  ``rows`` are the
    cube's positions in ``pdf``.  A chunk bounds the int32 working set
    of a call to ~16 MB (at least 8 images).  Every ``fill`` writes
    only its own ``rows``, so neither grouping nor chunking shows in
    its output."""
    bufs = pdf["bytes"].to_numpy()
    ws = pdf["w"].to_numpy()
    hs = pdf["h"].to_numpy()
    fmts = (pdf["fmt"].to_numpy() if "fmt" in pdf
            else np.full(len(pdf), "raw"))
    raw = fmts == "raw"
    shape_key = ws.astype(np.int64) << 32 | hs.astype(np.int64)
    for key in np.unique(shape_key[raw]):
        all_rows = np.nonzero(raw & (shape_key == key))[0]
        w, h = int(key >> 32), int(key & 0xFFFFFFFF)
        m_cap = max(int(16e6 // (max(w * h, 1) * 3 * 4)), 8)
        for s in range(0, len(all_rows), m_cap):
            rows = all_rows[s:s + m_cap]
            cube = np.frombuffer(
                b"".join(bufs[r] for r in rows),
                dtype=np.uint8).reshape(len(rows), h, w, 3)
            fill(rows, cube)
    for r in np.nonzero(~raw)[0]:
        img = decode_image(bufs[r], int(ws[r]), int(hs[r]), str(fmts[r]))
        fill(np.array([r]), img[None, ...])


def _map_images(df: DataFrame,
                frame_fn: Callable[[pd.DataFrame], pd.DataFrame],
                fields: Sequence[T.StructField]) -> DataFrame:
    """The ``mapInPandas`` shell of every per-image featurizer:
    ``frame_fn`` turns each Arrow batch into its feature frame.  The
    output schema is the input's without the ``bytes`` payload (blobs
    never reach a shuffle), plus ``fields``."""
    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name != "bytes"] + list(fields))
    return df.mapInPandas(lambda pdfs: map(frame_fn, pdfs), out_schema)


# ---------------------------------------------------------------------------
# pixel statistics (Arrow-batched; no per-row Python at the Spark level)
# ---------------------------------------------------------------------------

PIXEL_STAT_FIELDS = [
    T.StructField("px_mean_r", T.DoubleType()),
    T.StructField("px_mean_g", T.DoubleType()),
    T.StructField("px_mean_b", T.DoubleType()),
    T.StructField("px_std_r", T.DoubleType()),
    T.StructField("px_std_g", T.DoubleType()),
    T.StructField("px_std_b", T.DoubleType()),
    T.StructField("px_q25", T.DoubleType()),
    T.StructField("px_q50", T.DoubleType()),
    T.StructField("px_q75", T.DoubleType()),
]


_VALS = np.arange(256, dtype=np.float64)
_VALS_SQ = _VALS * _VALS


def _fill_from_hist(stats: np.ndarray, rows: np.ndarray,
                    hist: np.ndarray, npix: int) -> None:
    """Fill mean/std/quantiles from per-row per-channel uint8 value
    histograms ``hist`` of shape (m, 3, 256).  Integer-exact sums (no
    float accumulation error) and quantiles via histogram cumsum with
    np.quantile's linear interpolation — bit-compatible with computing
    them on the materialized float64 pixel tensor, at 1/8th the memory
    traffic (the uint8 payload is never widened)."""
    h = hist.astype(np.float64)
    sums = h @ _VALS                      # (m, 3)
    sumsq = h @ _VALS_SQ
    mean = sums / npix
    stats[rows, 0:3] = mean
    stats[rows, 3:6] = np.sqrt(np.maximum(sumsq / npix - mean * mean, 0.0))
    total = hist.sum(axis=1)              # (m, 256) combined channels
    cum = np.cumsum(total, axis=1)        # int64
    n_all = 3 * npix
    for qi, q in enumerate((0.25, 0.5, 0.75)):
        pos = q * (n_all - 1)
        i = int(np.floor(pos))
        frac = pos - i
        lo = (cum > i).argmax(axis=1).astype(np.float64)
        hi = (cum > i + 1).argmax(axis=1).astype(np.float64)
        stats[rows, 6 + qi] = lo * (1.0 - frac) + hi * frac


def _pixel_stats_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-channel stats, vectorized over each cube of
    :func:`_each_image`.  The uint8 payload is reduced through
    per-value HISTOGRAMS (one fused bincount per channel), never
    widened to float64 — the pixel stage is memory-bandwidth-bound, and
    the 8x traffic of a float tensor was the measured 32-core
    bottleneck."""
    stats = np.empty((len(pdf), 9), dtype=np.float64)

    def fill(rows, cube):
        # values offset into per-row slots; the only temp is a (m, npix)
        # int32 — the payload itself is never widened, so the stage
        # streams ~5 bytes/pixel instead of the 8-byte float tensor +
        # sort the old implementation paid
        m, h, w, _ = cube.shape
        npix = h * w
        px = cube.reshape(m, npix, 3)
        row_off = (np.arange(m, dtype=np.int32) * 256)[:, None]
        hist = np.empty((m, 3, 256), dtype=np.int64)
        for c in range(3):
            idx = px[:, :, c].astype(np.int32)
            idx += row_off
            hist[:, c, :] = np.bincount(
                idx.ravel(), minlength=m * 256).reshape(m, 256)
        _fill_from_hist(stats, rows, hist, npix)

    _each_image(pdf, fill)
    out = pdf.drop(columns=["bytes"])
    for i, f in enumerate(PIXEL_STAT_FIELDS):
        out[f.name] = stats[:, i]
    return out


def _transform_images(df: DataFrame,
                      transform: Callable[[np.ndarray], np.ndarray]
                      ) -> DataFrame:
    """Map every payload through ``transform`` — an ``(m, h, w, 3)`` →
    ``(m, h', w', 3)`` uint8 cube function fed by :func:`_each_image`
    — and re-emit it as ``raw`` with the new ``(w, h)``.  The output
    keeps its payload column, so this is not a :func:`_map_images`
    featurizer."""
    out_schema = T.StructType([
        T.StructField(f.name, T.IntegerType()) if f.name in ("w", "h")
        else f for f in df.schema.fields])

    def frame(pdf: pd.DataFrame) -> pd.DataFrame:
        bufs = [None] * len(pdf)
        ws = np.empty(len(pdf), dtype=np.int32)
        hs = np.empty(len(pdf), dtype=np.int32)

        def fill(rows, cube):
            out = transform(cube)
            for i, r in enumerate(rows):
                bufs[r] = out[i].tobytes()
            hs[rows], ws[rows] = out.shape[1], out.shape[2]

        _each_image(pdf, fill)
        return pdf.assign(bytes=bufs, w=ws, h=hs, fmt="raw")

    return df.mapInPandas(lambda pdfs: map(frame, pdfs), out_schema)


def augment_raw(img: np.ndarray, ops: Sequence) -> np.ndarray:
    """Apply a deterministic augmentation chain to one (h, w, 3) uint8
    image: ``("hflip",)``, ``("vflip",)``, ``("rot90",)`` (CCW, NumPy
    convention), ``("crop", x0, y0, cw, ch)``.  Pure index gathers —
    no interpolation, no image library."""
    for op in ops:
        kind = op[0]
        if kind == "hflip":
            img = img[:, ::-1]
        elif kind == "vflip":
            img = img[::-1]
        elif kind == "rot90":
            img = np.rot90(img)
        elif kind == "crop":
            _, x0, y0, cw, ch = op
            h, w = img.shape[:2]
            if not (0 <= x0 and x0 + cw <= w and 0 <= y0
                    and y0 + ch <= h):
                raise ValueError(
                    f"crop ({x0},{y0},{cw},{ch}) outside {w}x{h}")
            img = img[y0:y0 + ch, x0:x0 + cw]
        else:
            raise ValueError(f"unknown augmentation op {op!r}")
    return np.ascontiguousarray(img)


def augment_images(df: DataFrame, ops: Sequence) -> DataFrame:
    """Deterministic geometric augmentation of every image payload
    (flip / rotate / crop chains) — the training-data staple that at
    corpus scale must run as a pure map stage: Arrow-batched
    ``mapInPandas``, each :func:`_each_image` cube (same-shape raw
    images, or one decoded non-raw image) transformed as ONE
    (m, h, w, 3) NumPy gather.  Output is re-emitted as 'raw' with
    updated ``(w, h)``.  Random per-image augmentation belongs in the
    training loader; the PIPELINE's job is the deterministic variants,
    which stay reproducible and oracle-checkable."""
    ops = [tuple(op) for op in ops]

    def chain(block: np.ndarray) -> np.ndarray:
        for op in ops:
            kind = op[0]
            if kind == "hflip":
                block = block[:, :, ::-1]
            elif kind == "vflip":
                block = block[:, ::-1]
            elif kind == "rot90":
                block = np.rot90(block, axes=(1, 2))
            elif kind == "crop":
                _, x0, y0, cw, ch = op
                bh, bw = block.shape[1:3]
                if not (0 <= x0 and x0 + cw <= bw and 0 <= y0
                        and y0 + ch <= bh):
                    raise ValueError(f"crop {op} outside {bw}x{bh}")
                block = block[:, y0:y0 + ch, x0:x0 + cw]
            else:
                raise ValueError(f"unknown op {op!r}")
        return block

    return _transform_images(df, chain)


_CHECKSUM_MOD = 2_147_483_647


def with_byte_checksum(df: DataFrame, bytes_col: str = "bytes",
                       out_col: str = "byte_checksum") -> DataFrame:
    """Position-weighted payload checksum
    ``Σ_j (j+1)·b[j] mod 2³¹−1`` — unlike a mean/histogram it changes
    under any reordering of bytes, so it verifies geometric transforms
    (flips, rotations) exactly; an engine that knows the pixel formula
    can reproduce it arithmetically.  Vectorized Arrow-batched pandas
    UDF (one matmul-free einsum per batch is overkill — a weighted sum
    per row on a concatenated buffer is already memory-bound)."""

    @F.pandas_udf("long")
    def _ck(s: pd.Series) -> pd.Series:
        out = np.empty(len(s), dtype=np.int64)
        for i, buf in enumerate(s):
            if buf is None:
                out[i] = -1
                continue
            b = np.frombuffer(buf, dtype=np.uint8).astype(np.int64)
            # (j+1)*b[j] summed exactly: n*256*n < 2^63 for any
            # realistic payload; one final mod
            out[i] = int(np.dot(b, np.arange(1, b.size + 1,
                                             dtype=np.int64))
                         % _CHECKSUM_MOD)
        return pd.Series(out)

    return df.withColumn(out_col, _ck(F.col(bytes_col)))


def resize_raw(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize of an (h, w, 3) uint8 image — pure NumPy
    integer gather (pixel-center mapping), no image library."""
    h, w = img.shape[:2]
    ys = np.minimum(((np.arange(out_h) + 0.5) * h / out_h)
                    .astype(np.int64), h - 1)
    xs = np.minimum(((np.arange(out_w) + 0.5) * w / out_w)
                    .astype(np.int64), w - 1)
    return img[ys[:, None], xs[None, :]]


def resize_images(df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Resize every image payload to (out_w, out_h): decode per the
    codec registry, nearest-neighbor resample, re-emit as 'raw'.
    Arrow-batched ``mapInPandas``; each :func:`_each_image` cube is
    resampled as ONE (m, h, w, 3) gather (per-row NumPy overhead would
    dominate for thumbnails), with :func:`resize_raw`'s pixel-center
    rule.  The standard preprocessing step of an image training
    pipeline — uniform shapes downstream."""

    def gather(block: np.ndarray) -> np.ndarray:
        _, h, w, _ = block.shape
        ys = np.minimum(((np.arange(out_h) + 0.5) * h / out_h)
                        .astype(np.int64), h - 1)
        xs = np.minimum(((np.arange(out_w) + 0.5) * w / out_w)
                        .astype(np.int64), w - 1)
        return block[:, ys[:, None], xs[None, :]]

    return _transform_images(df, gather)


def with_pixel_stats(df: DataFrame) -> DataFrame:
    """Append per-channel mean/std and luminance quantiles, dropping the
    payload column afterwards (never carry multi-KB blobs through a
    shuffle you don't have to).  Arrow-batched ``mapInPandas``; the
    per-image loop is inside the batch, vectorized over pixels."""
    return _map_images(df, _pixel_stats_frame, PIXEL_STAT_FIELDS)


def _spatial_frame(pdf: pd.DataFrame, grid: int) -> pd.DataFrame:
    """Tile-grid means + gradient energy, vectorized per
    :func:`_each_image` cube: tile sums by integer reshape-reduce,
    |∇x|/|∇y| by int16 diffs — all sums exact integers before ONE
    division each."""
    m = len(pdf)
    tiles = [None] * m
    edx = np.empty(m, dtype=np.float64)
    edy = np.empty(m, dtype=np.float64)

    def fill(rows, cube):
        _, h, w, _ = cube.shape
        g = grid
        th, tw = h // g, w // g
        c = cube[:, :g * th, :g * tw, :]
        sums = (c.reshape(len(rows), g, th, g, tw, 3)
                 .sum(axis=(2, 4, 5), dtype=np.int64))
        means = sums / float(th * tw * 3)
        d16 = cube.astype(np.int16)
        sdx = np.abs(np.diff(d16, axis=2)).sum(axis=(1, 2, 3),
                                               dtype=np.int64)
        sdy = np.abs(np.diff(d16, axis=1)).sum(axis=(1, 2, 3),
                                               dtype=np.int64)
        for i, r in enumerate(rows):
            tiles[r] = [float(v) for v in means[i].ravel()]
        edx[rows] = sdx / float(h * (w - 1) * 3)
        edy[rows] = sdy / float((h - 1) * w * 3)

    _each_image(pdf, fill)
    return pdf.drop(columns=["bytes"]).assign(
        tile_means=tiles, edge_dx=edx, edge_dy=edy,
        edge_energy=(edx + edy) / 2.0)


def with_spatial_features(df: DataFrame, grid: int = 2) -> DataFrame:
    """Append spatial image features and drop the payload: ``tile_means``
    (``grid × grid`` combined-channel tile brightness means, row-major —
    the vignette/gradient layout signature) and ``edge_dx`` /
    ``edge_dy`` / ``edge_energy`` (mean absolute horizontal / vertical
    neighbor difference — the classic no-reference sharpness score: a
    blurred or flat image scores low, making this the standard blur /
    junk filter in an image-corpus curation pass).

    Arrow-batched ``mapInPandas`` over shape-grouped payloads
    (uint8 → int16/int64 integer sums, one division per statistic —
    engine-exact); blobs are dropped before anything shuffles.  Images
    not divisible by ``grid`` use the top-left ``grid·⌊dim/grid⌋``
    crop for tiles (edges use the full frame)."""
    return _map_images(
        df, lambda pdf: _spatial_frame(pdf, grid),
        [T.StructField("tile_means", T.ArrayType(T.DoubleType())),
         T.StructField("edge_dx", T.DoubleType()),
         T.StructField("edge_dy", T.DoubleType()),
         T.StructField("edge_energy", T.DoubleType())])


def _conv_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """3x3 integer Laplacian response stats per image, vectorized per
    shape group: grayscale by exact channel SUM (no division), valid-
    region convolution ``4g − g_up − g_down − g_left − g_right`` by
    array slicing (the separable-stencil form — no im2col, no float
    kernel), then three exact-integer reductions: Σ|response| (one
    division for the mean), max response, and the count of strictly
    positive responses.  All integers until the single mean division,
    so another engine replays every digit."""
    m = len(pdf)
    amean = np.empty(m, dtype=np.float64)
    rmax = np.empty(m, dtype=np.int64)
    npos = np.empty(m, dtype=np.int64)

    def fill(rows, cube):
        _, h, w, _ = cube.shape
        g = cube.sum(axis=3, dtype=np.int64)  # grayscale = channel sum
        r = (4 * g[:, 1:-1, 1:-1]
             - g[:, :-2, 1:-1] - g[:, 2:, 1:-1]
             - g[:, 1:-1, :-2] - g[:, 1:-1, 2:])
        n_valid = (h - 2) * (w - 2)
        amean[rows] = (np.abs(r).sum(axis=(1, 2), dtype=np.int64)
                       / float(n_valid))
        rmax[rows] = r.max(axis=(1, 2))
        npos[rows] = (r > 0).sum(axis=(1, 2), dtype=np.int64)

    _each_image(pdf, fill)
    return pdf.drop(columns=["bytes"]).assign(
        conv_abs_mean=amean, conv_max=rmax, conv_n_pos=npos)


def with_conv_features(df: DataFrame) -> DataFrame:
    """Append 3x3 Laplacian convolution statistics and drop the
    payload: ``conv_abs_mean`` (mean |response| over the valid region —
    a second-derivative sharpness/texture score, the blur filter that
    sees what the first-difference ``edge_energy`` misses: a smooth
    ramp has high gradient but zero Laplacian), ``conv_max`` (peak
    response — impulse-noise / hot-pixel detector) and ``conv_n_pos``.
    Arrow-batched ``mapInPandas`` over shape-grouped payloads —
    images needing >= 3x3; integer arithmetic end to end (one division
    for the mean), blobs dropped before anything shuffles."""
    return _map_images(
        df, _conv_frame,
        [T.StructField("conv_abs_mean", T.DoubleType()),
         T.StructField("conv_max", T.LongType()),
         T.StructField("conv_n_pos", T.LongType())])


def _equalize_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """Histogram equalization on the grayscale channel-SUM, with the
    LUT in EXACT integer arithmetic:

        lut(v) = floor(((cdf(v) − cdf_min)·510 + span) / (2·span)),
        span = n_px − cdf_min

    i.e. round-half-up of ``(cdf−cdf_min)·255/span`` with no float
    division anywhere — another engine replays every digit with plain
    integer ``//``.  Per batch the histograms are ONE offset-bincount
    over the whole shape group (no per-image Python loop).  Emits
    ``eq_sum`` (exact integer sum of equalized pixels), ``eq_mean``
    (one division) and ``eq_distinct`` (post-equalization level count —
    a contrast-utilization score)."""
    m = len(pdf)
    eq_sum = np.empty(m, dtype=np.int64)
    eq_mean = np.empty(m, dtype=np.float64)
    eq_distinct = np.empty(m, dtype=np.int64)

    def fill(rows, cube):
        n, h, w, _ = cube.shape
        npix = h * w
        g = cube.sum(axis=3, dtype=np.int64).reshape(n, npix)
        levels = 766  # grayscale sum range 0..765
        offset = (np.arange(n, dtype=np.int64) * levels)[:, None]
        hist = np.bincount((g + offset).ravel(),
                           minlength=n * levels).reshape(n, levels)
        cdf = hist.cumsum(axis=1)
        # cdf_min = cdf at the smallest PRESENT level = its count
        first = np.argmax(hist > 0, axis=1)
        cdf_min = hist[np.arange(n), first]
        span = npix - cdf_min
        safe = np.maximum(span, 1)
        lut = ((cdf - cdf_min[:, None]) * 510
               + safe[:, None]) // (2 * safe[:, None])
        lut = np.where(span[:, None] == 0, 0, np.clip(lut, 0, 255))
        eq = np.take_along_axis(lut, g, axis=1)
        eq_sum[rows] = eq.sum(axis=1, dtype=np.int64)
        eq_mean[rows] = eq_sum[rows] / float(npix)
        eq_distinct[rows] = [len(np.unique(r)) for r in eq]

    _each_image(pdf, fill)
    return pdf.drop(columns=["bytes"]).assign(
        eq_sum=eq_sum, eq_mean=eq_mean, eq_distinct=eq_distinct)


def with_equalized_stats(df: DataFrame) -> DataFrame:
    """Append histogram-equalization statistics and drop the payload:
    the exact-integer equalization LUT (see :func:`_equalize_frame`)
    applied to the grayscale channel sum — ``eq_sum`` / ``eq_mean`` /
    ``eq_distinct``.  Low ``eq_distinct`` after equalization flags
    banded / posterized / synthetic images that raw pixel stats rate
    as normal — a curation filter orthogonal to blur (``edge_energy``,
    ``conv_abs_mean``) and exposure (``px_mean``) checks.  Same
    :func:`_each_image` batching as the other payload operators."""
    return _map_images(
        df, _equalize_frame,
        [T.StructField("eq_sum", T.LongType()),
         T.StructField("eq_mean", T.DoubleType()),
         T.StructField("eq_distinct", T.LongType())])


def _dhash_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """Difference-hash per image, vectorized per shape group: resize
    to 9x8 (nearest neighbor, pixel-center mapping — the same rule as
    :func:`resize_raw`), grayscale by exact channel SUM (no division),
    then 64 horizontal-gradient sign bits.  Emitted as two uint32
    halves in int64 columns (rows 0-3 → lo, rows 4-7 → hi) so the
    packing needs no 64-bit sign games in any engine."""
    m = len(pdf)
    lo = np.empty(m, dtype=np.int64)
    hi = np.empty(m, dtype=np.int64)

    def fill(rows, cube):
        _, h, w, _ = cube.shape
        ys = np.minimum(((np.arange(8) + 0.5) * h / 8)
                        .astype(np.int64), h - 1)
        xs = np.minimum(((np.arange(9) + 0.5) * w / 9)
                        .astype(np.int64), w - 1)
        g = cube[:, ys[:, None], xs[None, :], :].astype(
            np.int64).sum(axis=3)            # (m, 8, 9) gray sums
        bits = (g[:, :, 1:] > g[:, :, :-1])  # (m, 8, 8)
        weights = (1 << np.arange(32, dtype=np.int64))
        lo[rows] = (bits[:, :4, :].reshape(len(rows), 32)
                    * weights).sum(axis=1)
        hi[rows] = (bits[:, 4:, :].reshape(len(rows), 32)
                    * weights).sum(axis=1)

    _each_image(pdf, fill)
    return pdf.drop(columns=["bytes"]).assign(dhash_lo=lo, dhash_hi=hi)


def with_dhash(df: DataFrame) -> DataFrame:
    """Compute a REAL perceptual hash from the pixels (unlike the
    corpus's precomputed ``phash`` column): the classic dHash —
    horizontal gradient signs of the 9×8 downsample — robust to
    rescaling and mild recompression, the workhorse key for image
    near-duplicate mining.  Two images are near-dups when the Hamming
    distance between hashes is small; compose with
    ``phash_hamming_distance`` on each 32-bit half and the banded-join
    dedup machinery (``operators/dedup.py``).

    Arrow-batched ``mapInPandas`` over shape-grouped payloads; exact
    integer arithmetic end-to-end (sum-grayscale, pixel-center
    sampling), so every bit is engine-reproducible — the driver gate
    recomputes the sampled pixels, the gradient signs and the packed
    halves arithmetically in SQL.  Blobs dropped before any shuffle."""
    return _map_images(
        df, _dhash_frame,
        [T.StructField("dhash_lo", T.LongType()),
         T.StructField("dhash_hi", T.LongType())])


def _otsu_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """Otsu's threshold on the grayscale channel-SUM (levels 0..765),
    EXACT end to end: with pixel count N, gray total S, and per-level
    cumulatives w0 = cdf(t), s0 = Σ_{g≤t} g·c_g, the between-class
    variance is maximized by maximizing

        score(t) = (S·w0 − N·s0)² / (w0·(N − w0))

    over thresholds with both classes non-empty.  For the supported
    image sizes the numerator stays < 2⁵³, so the int64→double
    conversion and the single IEEE division are exact — every engine
    computing the same fraction lands on the bit-identical double, and
    the first-occurrence argmax (ties → smallest t) is reproducible.
    Emits ``otsu_t`` (chosen threshold; −1 when the image is constant),
    ``fg_count`` and ``fg_sum`` (pixels strictly above the threshold),
    all exact integers."""
    m = len(pdf)
    t_star = np.full(m, -1, dtype=np.int64)
    fg_count = np.zeros(m, dtype=np.int64)
    fg_sum = np.zeros(m, dtype=np.int64)

    def fill(rows, cube):
        n, h, w, _ = cube.shape
        npix = h * w
        g = cube.sum(axis=3, dtype=np.int64).reshape(n, npix)
        levels = 766
        offset = (np.arange(n, dtype=np.int64) * levels)[:, None]
        hist = np.bincount((g + offset).ravel(),
                           minlength=n * levels).reshape(n, levels)
        w0 = hist.cumsum(axis=1)                      # cdf(t)
        s0 = (hist * np.arange(levels, dtype=np.int64)).cumsum(axis=1)
        s_tot = s0[:, -1][:, None]
        # |a| < 2^22 at 8x8 so the double conversion is exact; square
        # AFTER the cast so no image size can overflow int64 (the
        # oracle squares doubles the same way)
        a = (s_tot * w0 - npix * s0).astype(np.float64)
        den = w0 * (npix - w0)
        valid = den > 0
        score = np.where(
            valid,
            a * a / np.where(valid, den, 1).astype(np.float64),
            -1.0)
        best = score.argmax(axis=1)                   # first max
        ok = score[np.arange(n), best] >= 0.0
        t_star[rows] = np.where(ok, best, -1)
        fg_count[rows] = np.where(
            ok, npix - w0[np.arange(n), best], 0)
        fg_sum[rows] = np.where(
            ok, s_tot[:, 0] - s0[np.arange(n), best], 0)

    _each_image(pdf, fill)
    return pdf.drop(columns=["bytes"]).assign(
        otsu_t=t_star, fg_count=fg_count, fg_sum=fg_sum)


def with_otsu_stats(df: DataFrame) -> DataFrame:
    """Append Otsu's adaptive binarization threshold and foreground
    stats, dropping the payload — the classic document/figure
    segmentation primitive (Otsu 1979), and a per-image contrast/
    bimodality feature for curation.  Arrow-batched ``mapInPandas``
    over shape-grouped payloads; exact integer cumulative sums and one
    exact sub-2⁵³ division, so the gate's SQL oracle replays every
    histogram count, every candidate score and the argmax."""
    return _map_images(
        df, _otsu_frame,
        [T.StructField("otsu_t", T.LongType()),
         T.StructField("fg_count", T.LongType()),
         T.StructField("fg_sum", T.LongType())])


def _morph_frame(pdf: pd.DataFrame, thresh: int) -> pd.DataFrame:
    """3×3 binary morphology on the mask ``gray-sum > thresh``:
    erosion (AND of the 9-neighborhood) and dilation (OR), both over
    the valid interior region, by pure array slicing — no im2col, no
    structuring-element loop.  Emits exact counts: ``n_fg`` (mask over
    the full frame), ``n_eroded``, ``n_dilated`` (interior), whose
    difference is the classic morphological-gradient boundary mass."""
    m = len(pdf)
    n_fg = np.zeros(m, dtype=np.int64)
    n_er = np.zeros(m, dtype=np.int64)
    n_di = np.zeros(m, dtype=np.int64)

    def fill(rows, cube):
        g = cube.sum(axis=3, dtype=np.int64)
        mask = g > thresh
        n_fg[rows] = mask.sum(axis=(1, 2), dtype=np.int64)
        er = mask[:, 1:-1, 1:-1].copy()
        di = mask[:, 1:-1, 1:-1].copy()
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                if dy == 0 and dx == 0:
                    continue
                nb = mask[:, 1 + dy:mask.shape[1] - 1 + dy,
                          1 + dx:mask.shape[2] - 1 + dx]
                er &= nb
                di |= nb
        n_er[rows] = er.sum(axis=(1, 2), dtype=np.int64)
        n_di[rows] = di.sum(axis=(1, 2), dtype=np.int64)

    _each_image(pdf, fill)
    return pdf.drop(columns=["bytes"]).assign(
        n_fg=n_fg, n_eroded=n_er, n_dilated=n_di)


def with_morphology_stats(df: DataFrame, thresh: int = 380) -> DataFrame:
    """Append 3×3 binary erosion/dilation counts of the mask
    ``gray-sum > thresh`` and drop the payload — the speckle/blob
    feature pair: erosion kills isolated foreground pixels (noise),
    dilation closes pinholes, and ``n_dilated − n_eroded`` is the
    morphological-gradient boundary mass (shape-complexity score).
    Arrow-batched ``mapInPandas`` over shape-grouped payloads; pure
    boolean/integer arithmetic, so the SQL oracle replays every
    neighborhood min/max inline."""
    return _map_images(
        df, lambda pdf: _morph_frame(pdf, thresh),
        [T.StructField("n_fg", T.LongType()),
         T.StructField("n_eroded", T.LongType()),
         T.StructField("n_dilated", T.LongType())])


def _blob_frame(pdf: pd.DataFrame, thresh: int) -> pd.DataFrame:
    """4-connected components of the binary mask ``gray-sum > thresh``
    per image, via simultaneous min-label propagation over the WHOLE
    shape-grouped batch: labels start as pixel indices and every
    iteration takes the 4-neighborhood minimum among masked pixels
    until the batch reaches a fixpoint (O(component diameter)
    iterations of whole-array ops — no per-image Python).  Emits
    ``n_blobs`` (component count) and ``max_blob`` (largest component
    pixel count), both exact integers."""
    m = len(pdf)
    n_blobs = np.zeros(m, dtype=np.int64)
    max_blob = np.zeros(m, dtype=np.int64)

    def fill(rows, cube):
        n, h, w, _ = cube.shape
        g = cube.sum(axis=3, dtype=np.int64)
        mask = g > thresh
        big = np.int64(h * w)            # sentinel above any pixel id
        lab = np.where(
            mask, np.arange(h * w, dtype=np.int64).reshape(1, h, w),
            big)
        while True:
            nxt = lab.copy()
            nxt[:, 1:, :] = np.minimum(nxt[:, 1:, :], lab[:, :-1, :])
            nxt[:, :-1, :] = np.minimum(nxt[:, :-1, :], lab[:, 1:, :])
            nxt[:, :, 1:] = np.minimum(nxt[:, :, 1:], lab[:, :, :-1])
            nxt[:, :, :-1] = np.minimum(nxt[:, :, :-1], lab[:, :, 1:])
            nxt = np.where(mask, nxt, big)
            if np.array_equal(nxt, lab):
                break
            lab = nxt
        flat = lab.reshape(n, h * w)
        for i in range(n):                # small per-image tallies
            labs = flat[i][mask[i].reshape(-1)]
            if labs.size:
                _, counts = np.unique(labs, return_counts=True)
                n_blobs[rows[i]] = len(counts)
                max_blob[rows[i]] = counts.max()

    _each_image(pdf, fill)
    return pdf.drop(columns=["bytes"]).assign(
        n_blobs=n_blobs, max_blob=max_blob)


def with_blob_stats(df: DataFrame, thresh: int = 380) -> DataFrame:
    """Append connected-component counts of the thresholded mask and
    drop the payload — the classic blob/segment feature (object count,
    dominant-segment size) for figure/document curation.  Arrow-
    batched ``mapInPandas`` over shape-grouped payloads; pure integer
    min-propagation, so a SQL engine replays it with recursive
    min-label CTEs."""
    return _map_images(
        df, lambda pdf: _blob_frame(pdf, thresh),
        [T.StructField("n_blobs", T.LongType()),
         T.StructField("max_blob", T.LongType())])


def _octant(gx: np.ndarray, gy: np.ndarray) -> np.ndarray:
    """Gradient orientation octant 0..7 by PURE integer comparisons
    (no atan2, no floats): reflect into the upper half-plane (+4),
    then into the first quadrant (+2), then split at the 45° diagonal
    (+1).  Zero gradients are the caller's problem (masked out)."""
    half = (gy < 0) | ((gy == 0) & (gx < 0))
    ax = np.where(half, -gx, gx)
    ay = np.where(half, -gy, gy)
    quad = ax <= 0
    bx = np.where(quad, ay, ax)
    by = np.where(quad, -ax, ay)
    diag = bx <= by
    return (half.astype(np.int64) * 4 + quad.astype(np.int64) * 2
            + diag.astype(np.int64))


def _gradhist_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """HOG-lite: central-difference gradients of the grayscale SUM on
    the interior, L1 magnitude (|gx|+|gy| — exact integer, no sqrt),
    binned into 8 orientation octants by integer comparisons.  Emits
    ``hog0..hog7`` (magnitude-weighted sector masses) and ``n_flat``
    (zero-gradient interior pixels) — all exact integers."""
    m = len(pdf)
    hog = np.zeros((m, 8), dtype=np.int64)
    n_flat = np.zeros(m, dtype=np.int64)

    def fill(rows, cube):
        g = cube.sum(axis=3, dtype=np.int64)
        gx = g[:, 1:-1, 2:] - g[:, 1:-1, :-2]
        gy = g[:, 2:, 1:-1] - g[:, :-2, 1:-1]
        mag = np.abs(gx) + np.abs(gy)
        flat = mag == 0
        n_flat[rows] = flat.sum(axis=(1, 2), dtype=np.int64)
        oct_ = _octant(gx, gy)
        for b in range(8):
            sel = (oct_ == b) & ~flat
            hog[rows, b] = (mag * sel).sum(axis=(1, 2),
                                           dtype=np.int64)

    _each_image(pdf, fill)
    return pdf.drop(columns=["bytes"]).assign(
        **{f"hog{b}": hog[:, b] for b in range(8)}, n_flat=n_flat)


def with_gradient_hist(df: DataFrame) -> DataFrame:
    """Append the 8-sector gradient orientation histogram (HOG-lite,
    Dalal & Triggs 2005 reduced to one cell / L1 magnitude / octant
    bins) and drop the payload — the classic texture/edge-direction
    descriptor for image curation and near-dup features.  Arrow-
    batched ``mapInPandas`` over shape-grouped payloads; exact integer
    arithmetic end to end, so the SQL oracle replays every gradient,
    octant test and magnitude sum inline."""
    return _map_images(
        df, _gradhist_frame,
        [T.StructField(f"hog{b}", T.LongType()) for b in range(8)]
        + [T.StructField("n_flat", T.LongType())])


def _moments_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """Raw and central image moments of the grayscale SUM, all exact
    integers: m00 = ΣI, m10 = Σx·I, m01 = Σy·I and the central-moment
    NUMERATORS scaled by m00 (so no division ever happens):

        cn20 = m00·m20 − m10²,  cn02 = m00·m02 − m01²,
        cn11 = m00·m11 − m10·m01

    — the classic translation-invariant shape descriptors (Hu 1962)
    in their exact integer form; centroid and orientation derive
    downstream by single divisions."""
    m = len(pdf)
    cols = {k: np.zeros(m, dtype=np.int64)
            for k in ("m00", "m10", "m01", "cn20", "cn11", "cn02")}

    def fill(rows, cube):
        n, h, w, _ = cube.shape
        g = cube.sum(axis=3, dtype=np.int64)
        xs = np.arange(w, dtype=np.int64)[None, None, :]
        ys = np.arange(h, dtype=np.int64)[None, :, None]
        m00 = g.sum(axis=(1, 2))
        m10 = (g * xs).sum(axis=(1, 2))
        m01 = (g * ys).sum(axis=(1, 2))
        m20 = (g * xs * xs).sum(axis=(1, 2))
        m02 = (g * ys * ys).sum(axis=(1, 2))
        m11 = (g * xs * ys).sum(axis=(1, 2))
        cols["m00"][rows] = m00
        cols["m10"][rows] = m10
        cols["m01"][rows] = m01
        cols["cn20"][rows] = m00 * m20 - m10 * m10
        cols["cn02"][rows] = m00 * m02 - m01 * m01
        cols["cn11"][rows] = m00 * m11 - m10 * m01

    _each_image(pdf, fill)
    return pdf.drop(columns=["bytes"]).assign(**cols)


def with_image_moments(df: DataFrame) -> DataFrame:
    """Append exact integer image moments (raw m00/m10/m01 + central
    numerators cn20/cn11/cn02) and drop the payload — centroid,
    spread and orientation features for layout/shape curation.
    Arrow-batched ``mapInPandas``; the SQL oracle recomputes every
    moment arithmetically."""
    return _map_images(
        df, _moments_frame,
        [T.StructField(k, T.LongType())
         for k in ("m00", "m10", "m01", "cn20", "cn11", "cn02")])


def _boxmax_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """Peak 3×3 box sum per image via a SUMMED-AREA TABLE (Crow 1984):
    two cumulative sums build the SAT, each box sum is four corner
    lookups — O(1) per pixel regardless of box size, the scale path
    for large kernels (the oracle deliberately recomputes each box by
    direct 9-term addition, proving the SAT algebra).  Emits the max
    box sum and its first-occurrence (row-major) interior position."""
    m = len(pdf)
    box_max = np.zeros(m, dtype=np.int64)
    box_y = np.zeros(m, dtype=np.int64)
    box_x = np.zeros(m, dtype=np.int64)

    def fill(rows, cube):
        n, h, w, _ = cube.shape
        g = cube.sum(axis=3, dtype=np.int64)
        sat = np.zeros((n, h + 1, w + 1), dtype=np.int64)
        sat[:, 1:, 1:] = g.cumsum(axis=1).cumsum(axis=2)
        # 3x3 box centered at interior (y, x): rows y-1..y+1, cols
        # x-1..x+1 -> SAT corners at (y+2, x+2),(y-1,...)
        box = (sat[:, 3:, 3:] - sat[:, :-3, 3:]
               - sat[:, 3:, :-3] + sat[:, :-3, :-3])
        flat = box.reshape(n, -1)
        idx = flat.argmax(axis=1)            # first occurrence
        bw = w - 2
        box_max[rows] = flat[np.arange(n), idx]
        box_y[rows] = idx // bw + 1
        box_x[rows] = idx % bw + 1

    _each_image(pdf, fill)
    return pdf.drop(columns=["bytes"]).assign(
        box_max=box_max, box_y=box_y, box_x=box_x)


def with_box_peak(df: DataFrame) -> DataFrame:
    """Append the peak 3×3 box-sum (bright-blob detector) computed
    through a summed-area table, with its first-occurrence interior
    position — exact integers; the oracle proves the SAT algebra by
    direct per-box addition."""
    return _map_images(
        df, _boxmax_frame,
        [T.StructField("box_max", T.LongType()),
         T.StructField("box_y", T.LongType()),
         T.StructField("box_x", T.LongType())])


# clockwise 8-neighborhood from the top-left corner — the standard
# LBP bit order (Ojala et al. 2002); bit i weights 2^i
LBP_OFFSETS = ((-1, -1), (-1, 0), (-1, 1), (0, 1),
               (1, 1), (1, 0), (1, -1), (0, -1))


def _lbp_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """Local-binary-pattern texture stats per image, vectorized per
    shape group.  For every valid (non-border) pixel of the exact
    grayscale channel SUM, the 8-bit LBP code sets bit i when
    clockwise neighbor i >= center (ties count as set — the Ojala
    convention).  Emitted stats are all exact integers a SQL engine
    replays pixel-for-pixel:

    * ``lbp_sum``       Σ codes over the valid region
    * ``lbp_n_uniform`` # pixels whose code is a UNIFORM pattern
                        (≤ 2 circular bit transitions — Ojala's
                        rotation-robust texture class)
    * ``lbp_distinct``  # distinct codes in the image (texture
                        richness / flatness detector)
    """
    m = len(pdf)
    lsum = np.empty(m, dtype=np.int64)
    nuni = np.empty(m, dtype=np.int64)
    ndist = np.empty(m, dtype=np.int64)

    def fill(rows, cube):
        n, h, w, _ = cube.shape
        g = cube.sum(axis=3, dtype=np.int64)
        c = g[:, 1:-1, 1:-1]
        code = np.zeros_like(c)
        for i, (dy, dx) in enumerate(LBP_OFFSETS):
            nb = g[:, 1 + dy:h - 1 + dy, 1 + dx:w - 1 + dx]
            code += (nb >= c).astype(np.int64) << i
        lsum[rows] = code.sum(axis=(1, 2), dtype=np.int64)
        rot = ((code << 1) | (code >> 7)) & 0xFF
        trans = np.zeros_like(code)
        x = code ^ rot
        for _ in range(8):
            trans += x & 1
            x >>= 1
        nuni[rows] = (trans <= 2).sum(axis=(1, 2), dtype=np.int64)
        flat = code.reshape(len(rows), -1)
        srt = np.sort(flat, axis=1)
        ndist[rows] = 1 + (srt[:, 1:] != srt[:, :-1]).sum(
            axis=1, dtype=np.int64)

    _each_image(pdf, fill)
    return pdf.drop(columns=["bytes"]).assign(
        lbp_sum=lsum, lbp_n_uniform=nuni, lbp_distinct=ndist)


def with_lbp_stats(df: DataFrame) -> DataFrame:
    """Append LBP texture statistics (see :func:`_lbp_frame`) and drop
    the payload.  Arrow-batched ``mapInPandas`` over shape-grouped raw
    payloads; integer arithmetic end to end, blobs dropped before
    anything shuffles."""
    return _map_images(
        df, _lbp_frame,
        [T.StructField("lbp_sum", T.LongType()),
         T.StructField("lbp_n_uniform", T.LongType()),
         T.StructField("lbp_distinct", T.LongType())])


def _median3_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """3x3 median filter (salt-and-pepper denoiser) stats per image:
    the median of the 9-pixel neighborhood of the grayscale channel
    sum is the 5th-smallest — an EXACT integer (no interpolation), so
    another engine replays it as ``list_sort(...)[5]``.  Emits
    ``med_sum`` (Σ medians over the valid region), ``med_max`` and
    ``n_changed`` (# pixels the filter altered — an impulse-noise
    score)."""
    m = len(pdf)
    msum = np.empty(m, dtype=np.int64)
    mmax = np.empty(m, dtype=np.int64)
    nchg = np.empty(m, dtype=np.int64)

    def fill(rows, cube):
        n, h, w, _ = cube.shape
        g = cube.sum(axis=3, dtype=np.int64)
        stack = np.stack([g[:, 1 + dy:h - 1 + dy, 1 + dx:w - 1 + dx]
                          for dy in (-1, 0, 1) for dx in (-1, 0, 1)],
                         axis=-1)
        med = np.sort(stack, axis=-1)[..., 4]  # 5th smallest of 9
        c = g[:, 1:-1, 1:-1]
        msum[rows] = med.sum(axis=(1, 2), dtype=np.int64)
        mmax[rows] = med.max(axis=(1, 2))
        nchg[rows] = (med != c).sum(axis=(1, 2), dtype=np.int64)

    _each_image(pdf, fill)
    return pdf.drop(columns=["bytes"]).assign(
        med_sum=msum, med_max=mmax, n_changed=nchg)


def with_median3_stats(df: DataFrame) -> DataFrame:
    """Append 3x3-median-filter statistics (see :func:`_median3_frame`)
    and drop the payload — same :func:`_each_image` batching as the
    other pixel operators."""
    return _map_images(
        df, _median3_frame,
        [T.StructField("med_sum", T.LongType()),
         T.StructField("med_max", T.LongType()),
         T.StructField("n_changed", T.LongType())])


def _ssim_sums_frame(pdf: pd.DataFrame, a_col: str, b_col: str,
                     tile: int) -> pd.DataFrame:
    """Exact per-tile integer sufficient sums of the combined-channel
    gray plane (r+g+b, range 0..765) of two same-shape raw payloads."""
    keep = [c for c in pdf.columns if c not in (a_col, b_col)]
    out = {c: [] for c in keep}
    cols = {"ti": [], "tj": [], "n": [], "sx": [], "sy": [],
            "sxx": [], "syy": [], "sxy": []}
    for (w, h), grp in pdf.groupby(["w", "h"], sort=False):
        ga = np.frombuffer(
            b"".join(grp[a_col]), dtype=np.uint8
        ).reshape(len(grp), h, w, 3).astype(np.int64).sum(axis=3)
        gb = np.frombuffer(
            b"".join(grp[b_col]), dtype=np.uint8
        ).reshape(len(grp), h, w, 3).astype(np.int64).sum(axis=3)
        th, tw = h // tile, w // tile
        for ti in range(th):
            for tj in range(tw):
                xa = ga[:, ti * tile:(ti + 1) * tile,
                        tj * tile:(tj + 1) * tile]
                xb = gb[:, ti * tile:(ti + 1) * tile,
                        tj * tile:(tj + 1) * tile]
                for c in keep:
                    out[c].extend(grp[c].tolist())
                m = len(grp)
                cols["ti"].extend([ti] * m)
                cols["tj"].extend([tj] * m)
                cols["n"].extend([tile * tile] * m)
                cols["sx"].extend(xa.sum(axis=(1, 2)).tolist())
                cols["sy"].extend(xb.sum(axis=(1, 2)).tolist())
                cols["sxx"].extend((xa * xa).sum(axis=(1, 2)).tolist())
                cols["syy"].extend((xb * xb).sum(axis=(1, 2)).tolist())
                cols["sxy"].extend((xa * xb).sum(axis=(1, 2)).tolist())
    out.update(cols)
    return pd.DataFrame(out)


def ssim_tiles(df: DataFrame, a_col: str = "bytes_a",
               b_col: str = "bytes_b", tile: int = 4,
               k1: float = 0.01, k2: float = 0.03) -> DataFrame:
    """Tiled SSIM (Wang et al., "Image quality assessment: from error
    visibility to structural similarity", IEEE TIP 2004) between two
    same-shape raw RGB payload columns: per ``tile × tile`` window

        SSIM = (2 μx μy + C1)(2 σxy + C2)
               / ((μx² + μy² + C1)(σx² + σy² + C2))

    on the combined-channel gray plane (r+g+b, dynamic range L = 765;
    C1 = (k1·L)², C2 = (k2·L)²; population variances).  The classic
    windowed-SSIM uses an 11×11 Gaussian window — the tiled variant is
    the standard map-reduce simplification (non-overlapping uniform
    windows), and its per-tile values are what a curation filter
    thresholds ("any tile structurally changed?").

    Shape: the pandas stage emits EXACT BIGINT sufficient sums
    (Σx, Σy, Σx², Σy², Σxy — associative, engine-exact); the SSIM
    double arithmetic is one JVM expression over them, mirrored
    term-for-term by the SQL oracle.  Map-only — blobs never shuffle,
    one row per (image, tile).  Images not divisible by ``tile`` use
    the top-left crop (same convention as ``with_spatial_features``).

    Returns the input minus the payload columns, plus
    (ti, tj, n, sx, sy, sxx, syy, sxy, ssim).
    """
    L = 765.0
    c1, c2 = (k1 * L) ** 2, (k2 * L) ** 2
    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name not in (a_col, b_col)]
        + [T.StructField(c, T.IntegerType()) for c in ("ti", "tj", "n")]
        + [T.StructField(c, T.LongType())
           for c in ("sx", "sy", "sxx", "syy", "sxy")])

    def run(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            yield _ssim_sums_frame(pdf, a_col, b_col, tile)

    sums = df.mapInPandas(run, out_schema)
    nd = F.col("n").cast("double")
    mx = F.col("sx").cast("double") / nd
    my = F.col("sy").cast("double") / nd
    vx = F.col("sxx").cast("double") / nd - mx * mx
    vy = F.col("syy").cast("double") / nd - my * my
    cxy = F.col("sxy").cast("double") / nd - mx * my
    ssim = ((2.0 * mx * my + F.lit(c1)) * (2.0 * cxy + F.lit(c2))
            / ((mx * mx + my * my + F.lit(c1))
               * (vx + vy + F.lit(c2))))
    return sums.withColumn("ssim", ssim)


def _color_stats_frame(pdf: pd.DataFrame, q: int) -> pd.DataFrame:
    """Per-image quantized color-cube stats, any codec."""
    m = len(pdf)
    n_bins = np.empty(m, dtype=np.int64)
    dom_bin = np.empty(m, dtype=np.int64)
    dom_share = np.empty(m, dtype=np.float64)
    entropy = np.empty(m, dtype=np.float64)
    shift, nb = 256 // q, q * q * q

    def fill(rows, cube):
        n, h, w, _ = cube.shape
        npx = h * w
        px = cube.reshape(n, npx, 3).astype(np.int64)
        bins = ((px[:, :, 0] // shift) * q * q
                + (px[:, :, 1] // shift) * q + px[:, :, 2] // shift)
        counts = np.zeros((n, nb), dtype=np.int64)
        np.add.at(counts, (np.repeat(np.arange(n), npx), bins.ravel()), 1)
        share = counts / float(npx)
        with np.errstate(divide="ignore", invalid="ignore"):
            terms = np.where(counts > 0, -share * np.log(share), 0.0)
        # left fold in bin order (zero bins add exactly 0.0) — the
        # same sequential order the SQL oracle's list_reduce uses
        ent = np.zeros(n)
        for b in range(nb):
            ent = ent + terms[:, b]
        dom = counts.argmax(axis=1)        # ties -> lowest bin index
        n_bins[rows] = (counts > 0).sum(axis=1)
        dom_bin[rows] = dom
        dom_share[rows] = share[np.arange(n), dom]
        entropy[rows] = ent

    _each_image(pdf, fill)
    return pdf.drop(columns=["bytes"]).assign(
        n_bins=n_bins, dom_bin=dom_bin, dom_share=dom_share,
        color_entropy=entropy)


def with_color_stats(df: DataFrame, bins_per_channel: int = 4) -> DataFrame:
    """Quantized color-cube statistics per image, any codec — the classic
    color-diversity curation features: ``n_bins`` (occupied cells of
    the q×q×q cube), ``dom_bin`` / ``dom_share`` (dominant color cell,
    ties to the lowest bin index, and its pixel share — near-1 means a
    flat/solid image), ``color_entropy`` (Shannon entropy of the cell
    distribution in nats — near-0 means monochrome, high means busy).

    Exact integer cell counts (uint8 // (256/q) per channel, bin =
    r·q² + g·q + b); the entropy is the −Σ share·ln(share) left fold
    in ascending bin order, bit-reproducible and replayed exactly by
    the SQL oracle's ordered ``list_reduce`` (zero cells contribute
    exactly 0.0).  Map-only ``mapInPandas`` — blobs never shuffle.
    ``bins_per_channel`` must divide 256.
    """
    if 256 % bins_per_channel:
        raise ValueError("bins_per_channel must divide 256, got "
                         f"{bins_per_channel}")
    return _map_images(
        df, lambda pdf: _color_stats_frame(pdf, bins_per_channel),
        [T.StructField("n_bins", T.LongType()),
         T.StructField("dom_bin", T.LongType()),
         T.StructField("dom_share", T.DoubleType()),
         T.StructField("color_entropy", T.DoubleType())])


def _lap_suffstats_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """Exact integer sufficient statistics of the 3x3 Laplacian
    response over the valid region — (count, Σr, Σr²) per image — the
    inputs of the variance-of-Laplacian blur score.  Same stencil and
    shape-grouped vectorization as :func:`_conv_frame`; nothing but
    int64 leaves this stage."""
    m = len(pdf)
    ln = np.empty(m, dtype=np.int64)
    ls = np.empty(m, dtype=np.int64)
    lss = np.empty(m, dtype=np.int64)

    def fill(rows, cube):
        _, h, w, _ = cube.shape
        g = cube.sum(axis=3, dtype=np.int64)
        r = (4 * g[:, 1:-1, 1:-1]
             - g[:, :-2, 1:-1] - g[:, 2:, 1:-1]
             - g[:, 1:-1, :-2] - g[:, 1:-1, 2:])
        ln[rows] = (h - 2) * (w - 2)
        ls[rows] = r.sum(axis=(1, 2), dtype=np.int64)
        lss[rows] = (r * r).sum(axis=(1, 2), dtype=np.int64)

    _each_image(pdf, fill)
    return pdf.drop(columns=["bytes"]).assign(
        lap_n=ln, lap_sum=ls, lap_sumsq=lss)


def with_blur_score(df: DataFrame,
                    var_threshold: int = 900) -> DataFrame:
    """Variance-of-Laplacian blur detection (the classical sharpness
    gate of image-curation pipelines, e.g. Pech-Pacheco et al., ICPR
    2000): a sharp image has high-variance second derivatives; a
    defocused or flat one collapses toward zero.

    The pandas stage emits only the EXACT int64 sufficient statistics
    (lap_n, lap_sum, lap_sumsq) of the 3x3 Laplacian response on the
    channel-sum gray plane; the variance

        lap_var = (n·Σr² − (Σr)²) / n²

    is one JVM float expression, and the decision is the INTEGER
    comparison ``n·Σr² − (Σr)² < threshold·n²`` — no float boundary
    can disagree between engines.  ``var_threshold`` is in
    channel-sum units (0..765 gray ⇒ responses 3× the 0..255 scale,
    variances 9×: the classic cv2 cutoff ~100 maps to ~900 here).

    Integer bound: ``n·Σr² ≤ n²·(4·765)² < 2⁶³`` holds for images up
    to ~0.9 MP of valid region at the worst case; beyond that compute
    the same statistics in DECIMAL(38,0) — the plan (map-only
    mapInPandas, blobs never shuffle) is unchanged.

    Adds: lap_n, lap_sum, lap_sumsq, lap_var, is_blurry.
    """
    thr = int(var_threshold)
    if thr < 0:
        raise ValueError(f"var_threshold must be >= 0, got {thr}")
    out = _map_images(
        df, _lap_suffstats_frame,
        [T.StructField("lap_n", T.LongType()),
         T.StructField("lap_sum", T.LongType()),
         T.StructField("lap_sumsq", T.LongType())])
    n = F.col("lap_n")
    num = n * F.col("lap_sumsq") - F.col("lap_sum") * F.col("lap_sum")
    return (out
            .withColumn("lap_var",
                        num.cast("double")
                        / (n * n).cast("double"))
            .withColumn("is_blurry", num < F.lit(thr) * n * n))


def _harris_frame(pdf: pd.DataFrame, threshold: int) -> pd.DataFrame:
    """Harris corner response stats per image, vectorized per shape
    group, in EXACT integer arithmetic (Harris & Stephens 1988 with
    k = 1/20, the float k cross-multiplied away):

        Ix, Iy   : 3x3 integer Sobel on the grayscale channel SUM
        Sxx..Sxy : 3x3 box sums of Ix², Iy², IxIy
        R·20     = 20·(Sxx·Syy − Sxy²) − (Sxx+Syy)²

    so the response is an exact int64 (safe for the engine's small
    raw payloads: |S| ≤ 9·(4·765)² ≈ 8.4e7, |R·20| ≤ ~1.4e17) and the
    corner decision an integer comparison against ``threshold`` (in
    the same ·20 scale).  Emits per image: ``corner_count``
    (responses > threshold), ``resp_max`` and ``resp_argmax`` (row-
    major index of the FIRST maximum in the final valid region —
    deterministic)."""
    m = len(pdf)
    ncor = np.empty(m, dtype=np.int64)
    rmax = np.empty(m, dtype=np.int64)
    rarg = np.empty(m, dtype=np.int64)

    def fill(rows, cube):
        g = cube.sum(axis=3, dtype=np.int64)
        # 3x3 Sobel over the (h-2)x(w-2) valid region
        ix = ((g[:, :-2, 2:] + 2 * g[:, 1:-1, 2:] + g[:, 2:, 2:])
              - (g[:, :-2, :-2] + 2 * g[:, 1:-1, :-2]
                 + g[:, 2:, :-2]))
        iy = ((g[:, 2:, :-2] + 2 * g[:, 2:, 1:-1] + g[:, 2:, 2:])
              - (g[:, :-2, :-2] + 2 * g[:, :-2, 1:-1]
                 + g[:, :-2, 2:]))

        def box3(a):
            return (a[:, :-2, :-2] + a[:, :-2, 1:-1] + a[:, :-2, 2:]
                    + a[:, 1:-1, :-2] + a[:, 1:-1, 1:-1]
                    + a[:, 1:-1, 2:]
                    + a[:, 2:, :-2] + a[:, 2:, 1:-1] + a[:, 2:, 2:])

        sxx = box3(ix * ix)
        syy = box3(iy * iy)
        sxy = box3(ix * iy)
        resp = 20 * (sxx * syy - sxy * sxy) - (sxx + syy) ** 2
        flat = resp.reshape(resp.shape[0], -1)
        ncor[rows] = (flat > threshold).sum(axis=1, dtype=np.int64)
        rmax[rows] = flat.max(axis=1)
        rarg[rows] = flat.argmax(axis=1)

    _each_image(pdf, fill)
    return pdf.drop(columns=["bytes"]).assign(
        corner_count=ncor, resp_max=rmax, resp_argmax=rarg)


def with_harris_corners(df: DataFrame,
                        threshold: int = 0) -> DataFrame:
    """Append exact-integer Harris corner statistics and drop the
    payload (see :func:`_harris_frame`) — the classical interest-
    point detector completing the spatial-feature family (gradhist,
    moments, boxpeak, LBP): corner density is a strong busy-vs-flat
    image curation signal.  Arrow-batched ``mapInPandas`` over
    shape-grouped payloads; images must be >= 5x5 (Sobel then box
    sum each eat a 1-pixel border)."""
    return _map_images(
        df, lambda pdf: _harris_frame(pdf, int(threshold)),
        [T.StructField("corner_count", T.LongType()),
         T.StructField("resp_max", T.LongType()),
         T.StructField("resp_argmax", T.LongType())])


def _glcm_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """Gray-level co-occurrence (GLCM, Haralick 1973) texture stats
    per image over HORIZONTAL neighbor pairs of the 8-level-quantized
    grayscale channel sum (q = g·8 DIV 766, g ∈ [0, 765]):

    * ``glcm_pairs``      number of pairs (h·(w−1))
    * ``glcm_contrast``   Σ (q_a − q_b)²            (exact int)
    * ``glcm_energy_num`` Σ_{cells} count²          (exact int;
                          energy = num / pairs²)
    * ``glcm_hom840``     Σ_d n_d · (840/(1+d))     (exact int;
                          homogeneity = num / 840 / pairs —
                          840 = lcm(1..8) clears every reciprocal)

    Everything is integer until the caller divides — the
    "exact sufficient statistics, one mirrored division" image-ops
    convention."""
    m = len(pdf)
    npair = np.empty(m, dtype=np.int64)
    contrast = np.empty(m, dtype=np.int64)
    energy = np.empty(m, dtype=np.int64)
    hom840 = np.empty(m, dtype=np.int64)

    def fill(rows, cube):
        n, h, w, _ = cube.shape
        g = cube.sum(axis=3, dtype=np.int64)
        q = (g * 8) // 766
        qa = q[:, :, :-1]
        qb = q[:, :, 1:]
        d = np.abs(qa - qb)
        npair[rows] = h * (w - 1)
        contrast[rows] = (d * d).sum(axis=(1, 2), dtype=np.int64)
        lut = np.array([840 // (1 + k) for k in range(8)],
                       dtype=np.int64)
        hom840[rows] = lut[d].sum(axis=(1, 2), dtype=np.int64)
        codes = (qa * 8 + qb).reshape(n, -1)
        for j, r in enumerate(rows):
            cnt = np.bincount(codes[j], minlength=64)
            energy[r] = int((cnt.astype(np.int64) ** 2).sum())

    _each_image(pdf, fill)
    return pdf.drop(columns=["bytes"]).assign(
        glcm_pairs=npair, glcm_contrast=contrast, glcm_energy_num=energy,
        glcm_hom840=hom840)


def with_glcm_stats(df: DataFrame) -> DataFrame:
    """Append GLCM texture statistics (see :func:`_glcm_frame`) and
    drop the payload — Arrow-batched ``mapInPandas`` over
    shape-grouped payloads, integer arithmetic end to end."""
    return _map_images(
        df, _glcm_frame,
        [T.StructField("glcm_pairs", T.LongType()),
         T.StructField("glcm_contrast", T.LongType()),
         T.StructField("glcm_energy_num", T.LongType()),
         T.StructField("glcm_hom840", T.LongType())])


def _projection_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """Row/column projection profile per image — the classic
    shift/skew detector (document layout, horizon finding): with
    R_y = Σ_x g(y,x) and C_x = Σ_y g(y,x) over the grayscale channel
    sum, emits

    * ``proj_total``    Σ g                    (exact int)
    * ``proj_row_ssq``  Σ R_y²                 (exact int)
    * ``proj_col_ssq``  Σ C_x²                 (exact int)
    * ``com_y_num``     Σ y·R_y (0-based)      (exact int;
                        center of mass y = num / total)
    * ``com_x_num``     Σ x·C_x                (exact int)

    Profile variance and center of mass are single mirrored
    divisions off these."""
    m = len(pdf)
    total = np.empty(m, dtype=np.int64)
    rssq = np.empty(m, dtype=np.int64)
    cssq = np.empty(m, dtype=np.int64)
    comy = np.empty(m, dtype=np.int64)
    comx = np.empty(m, dtype=np.int64)

    def fill(rows, cube):
        n, h, w, _ = cube.shape
        g = cube.sum(axis=3, dtype=np.int64)
        r = g.sum(axis=2, dtype=np.int64)
        c = g.sum(axis=1, dtype=np.int64)
        total[rows] = r.sum(axis=1, dtype=np.int64)
        rssq[rows] = (r * r).sum(axis=1, dtype=np.int64)
        cssq[rows] = (c * c).sum(axis=1, dtype=np.int64)
        comy[rows] = (np.arange(h, dtype=np.int64)[None, :]
                      * r).sum(axis=1, dtype=np.int64)
        comx[rows] = (np.arange(w, dtype=np.int64)[None, :]
                      * c).sum(axis=1, dtype=np.int64)

    _each_image(pdf, fill)
    return pdf.drop(columns=["bytes"]).assign(
        proj_total=total, proj_row_ssq=rssq, proj_col_ssq=cssq,
        com_y_num=comy, com_x_num=comx)


def with_projection_stats(df: DataFrame) -> DataFrame:
    """Append projection-profile statistics (see
    :func:`_projection_frame`) and drop the payload — Arrow-batched
    ``mapInPandas``, integer arithmetic end to end."""
    return _map_images(
        df, _projection_frame,
        [T.StructField("proj_total", T.LongType()),
         T.StructField("proj_row_ssq", T.LongType()),
         T.StructField("proj_col_ssq", T.LongType()),
         T.StructField("com_y_num", T.LongType()),
         T.StructField("com_x_num", T.LongType())])


def with_hist_cells(df: DataFrame, key_col: str = "okey") -> DataFrame:
    """Per-image byte-level histogram CELLS (key, v, c, n_px) from the
    raw payload stream — the relational exchange format that lets
    everything downstream of the decode (equalization-style LUTs,
    histogram matching, distribution audits) run as plain DataFrame
    algebra with exact integers, so a SQL oracle can replay it.

    The plane is the raw byte stream itself (interleaved channels,
    values 0..255 — declared; use a gray-projection upstream when
    channel mixing matters).  One Arrow batch = one offset-bincount
    over all equal-length payloads, no per-image Python loop on the
    hot path; ragged payloads fall back per row.  Bounded output:
    ≤ 256 cells per image.  Blobs are dropped before anything
    shuffles (the module's scan-fusion discipline)."""
    out_schema = T.StructType([
        T.StructField("key", T.LongType()),
        T.StructField("v", T.LongType()),
        T.StructField("c", T.LongType()),
        T.StructField("n_px", T.LongType()),
    ])

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            keys = pdf[key_col].to_numpy(dtype=np.int64)
            bufs = pdf["bytes"].to_numpy()
            lens = np.fromiter((len(b) for b in bufs), dtype=np.int64,
                               count=len(bufs))
            ks, vs, cs, ns = [], [], [], []
            for ln in np.unique(lens):
                rows = np.nonzero(lens == ln)[0]
                block = np.frombuffer(
                    b"".join(bufs[r] for r in rows),
                    dtype=np.uint8).reshape(len(rows), ln)
                offset = (np.arange(len(rows), dtype=np.int64)
                          * 256)[:, None]
                hist = np.bincount(
                    (block.astype(np.int64) + offset).ravel(),
                    minlength=len(rows) * 256).reshape(len(rows), 256)
                for ri, r in enumerate(rows):
                    nz = np.nonzero(hist[ri])[0]
                    ks.append(np.full(len(nz), keys[r]))
                    vs.append(nz.astype(np.int64))
                    cs.append(hist[ri][nz].astype(np.int64))
                    ns.append(np.full(len(nz), int(ln)))
            yield pd.DataFrame({
                "key": np.concatenate(ks),
                "v": np.concatenate(vs),
                "c": np.concatenate(cs),
                "n_px": np.concatenate(ns)})

    return df.mapInPandas(run, out_schema)


def histogram_match(cells: DataFrame) -> DataFrame:
    """Histogram matching (specification) of every image against the
    POOLED corpus histogram — the classical normalization that maps
    each image's tonal distribution onto the corpus's (Gonzalez &
    Woods §3.3), here in a 100%-integer form:

        LUT(v) = min { g : refcum(g)·n_px ≥ cum_img(v)·N_ref }

    — the cross-multiplied exact-integer comparison (no float CDF
    anywhere).  Input is :func:`with_hist_cells` output; the
    reference is the pooled histogram of the SAME frame (pass a
    pre-filtered frame to match against a designated reference
    corpus).  Plan: one per-image cumulative window, one 256-row
    pooled table broadcast into a range join (bounded 256 candidates
    per cell), one regroup.  Everything emitted is an exact int64:
    per image (key, n_px, n_levels, n_matched_levels, lut_checksum =
    Σ(v+1)·LUT(v), matched_sum = Σ c(v)·LUT(v))."""
    from pyspark.sql import Window
    w_img = (Window.partitionBy("key").orderBy("v")
             .rowsBetween(Window.unboundedPreceding,
                          Window.currentRow))
    cum = cells.withColumn("cumv", F.sum("c").over(w_img))
    ref = cells.groupBy("v").agg(F.sum("c").alias("rc"))
    w_ref = (Window.orderBy("v")
             .rowsBetween(Window.unboundedPreceding,
                          Window.currentRow))
    w_all = Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
    ref = (ref.withColumn("refcum", F.sum("rc").over(w_ref))
              .withColumn("n_ref", F.sum("rc").over(w_all))
              .select(F.col("v").alias("g"), "refcum", "n_ref"))
    j = cum.join(F.broadcast(ref),
                 F.col("refcum") * F.col("n_px")
                 >= F.col("cumv") * F.col("n_ref"))
    lut = (j.groupBy("key", "v", "c", "n_px", "cumv")
            .agg(F.min("g").alias("lut")))
    return (lut.groupBy("key")
            .agg(F.max("n_px").alias("n_px"),
                 F.count(F.lit(1)).alias("n_levels"),
                 F.countDistinct("lut").alias("n_matched_levels"),
                 F.sum((F.col("v") + 1) * F.col("lut"))
                 .alias("lut_checksum"),
                 F.sum(F.col("c") * F.col("lut"))
                 .alias("matched_sum"))
            .select("key",
                    F.col("n_px").cast("long").alias("n_px"),
                    F.col("n_levels").cast("long").alias("n_levels"),
                    F.col("n_matched_levels").cast("long")
                    .alias("n_matched_levels"),
                    F.col("lut_checksum").cast("long")
                    .alias("lut_checksum"),
                    F.col("matched_sum").cast("long")
                    .alias("matched_sum")))
