"""Multimodal column handling: opaque ``binary`` payloads (image /
audio / video bytes) with typed metadata, processed by Arrow-batched
``mapInArrow`` kernels (``functions/arrow.map_batches``): a synthesizer
builds one payload per id, a decoder maps one payload to one row (or,
for the frame sampler, a list of rows).

All decoders here are REAL codecs over formats that need no external
libraries (BMP, PNG with zlib inflate + CRC-32, RIFF/WAV, a counted
frame container): the parsers read only the bytes, and because the
pixel/sample streams come from a closed-form LCG, a SQL oracle can
predict every decoded feature arithmetically — which is what makes
these queries fully hash-checkable.  A production pipeline swaps the
decode body for PIL/ffmpeg; the Spark plumbing (binary columns,
Arrow batching, narrow partition-preserving maps) is unchanged.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wrds2pg_spark.functions.arrow import map_batches

__all__ = [
    "binary_stats",
    "synth_bmp", "decode_image_bmp",
    "synth_png", "decode_image_png",
    "synth_wav", "decode_audio_wav",
    "synth_frame_container", "sample_frames_real",
    "LCG_A", "LCG_B",
]

# Deterministic payload generator shared by the synthesizers and the
# SQL oracles: byte j of stream `id` is (id*LCG_A + j*LCG_B) % 256.
# Knuth multiplicative constants; everything stays under 2^63 for any
# realistic id, so DuckDB BIGINT arithmetic reproduces it exactly.
LCG_A = 2654435761
LCG_B = 2246822519


def _lcg_bytes(seed: int, start: int, count: int) -> bytes:
    # Vectorized: all intermediates fit int64 for realistic ids
    # (seed*A ~ 1e14, j*B ~ 1e13), so numpy reproduces the Python-int
    # arithmetic exactly.
    base = np.int64(seed) * np.int64(LCG_A)
    j = np.arange(start, start + count, dtype=np.int64)
    return ((base + j * np.int64(LCG_B)) % 256).astype(np.uint8).tobytes()


def binary_stats(df: DataFrame, bin_col: str, id_col: str) -> DataFrame:
    """Byte-level metadata over a binary column — all JVM built-ins
    (works identically on real image bytes)."""
    b = F.col(bin_col)
    return df.select(
        F.col(id_col),
        F.octet_length(b).cast("long").alias("n_bytes"),
        F.md5(b).alias("content_md5"),
        F.sha2(b, 256).alias("content_sha256"),
    )


def _synth(df: DataFrame, id_col: str, build) -> DataFrame:
    """Binary-payload synthesizer: one real file ``build(id)`` per row,
    deterministic in the id (Arrow-batched, partition-preserving map)."""

    def fn(batch):
        ids = batch.column(0).to_pylist()
        return {"id": ids, "payload": [build(i) for i in ids]}

    return map_batches(df.select(id_col), fn, "id long, payload binary")


def _decode(df: DataFrame, bin_col: str, id_col: str, decode,
            ddl: str) -> DataFrame:
    """Per-payload decoder map: ``decode(payload)`` returns the columns
    after ``id`` of one output row, or a list of such rows (a
    row-expanding decode); ``ddl`` declares ``id`` plus those columns."""
    names = [c.split()[0] for c in ddl.split(",")]

    def fn(batch):
        rows = []
        for rid, payload in zip(batch.column(0).to_pylist(),
                                batch.column(1).to_pylist()):
            out = decode(payload)
            rows += ([(rid, *r) for r in out] if isinstance(out, list)
                     else [(rid, *out)])
        return dict(zip(names, list(zip(*rows)) or [[]] * len(names)))

    return map_batches(df.select(id_col, bin_col), fn, ddl)


# ---------------------------------------------------------------------------
# Real codecs: BMP (image), WAV/PCM16 (audio), FRMS (frame container).
#
# The container has no codec libraries, but these three formats need
# none — their headers are fixed-offset little-endian structs and the
# payload is raw. The synthesizers build REAL files (any external
# viewer would open the BMP/WAV); the parsers are genuine decoders
# that read only the bytes. Because the pixel/sample stream comes
# from the LCG above, a DuckDB oracle can predict every decoded
# feature arithmetically — which is what promotes these queries from
# rows-only to fully oracle-checked.
# ---------------------------------------------------------------------------


def _bmp_dims(seed: int) -> tuple[int, int]:
    return 4 + seed % 13, 4 + seed % 11


def _encode_bmp(px: np.ndarray) -> bytes:
    """Minimal but standard-compliant 24bpp bottom-up BMP of ``px``,
    the logical top-down pixel rows as a (height, width*3) BGR uint8
    array; each stored row is zero-padded to a 4-byte stride."""
    height, row_raw = px.shape
    pad = (4 - row_raw % 4) % 4
    img_size = (row_raw + pad) * height
    off = 14 + 40
    header = (
        b"BM"
        + (off + img_size).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + (row_raw // 3).to_bytes(4, "little")
        + height.to_bytes(4, "little")
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + img_size.to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2
        + (0).to_bytes(4, "little") * 2
    )
    return header + np.pad(px[::-1], ((0, 0), (0, pad))).tobytes()


def _bmp_rows(b: bytes) -> np.ndarray:
    """REAL BMP parse: validates the magic and the 24 bpp, reads the
    little-endian header fields and returns the pixel rows top-down as
    a (height, width*3) BGR uint8 view (row padding dropped)."""
    if b[:2] != b"BM":
        raise ValueError("not a BMP payload")
    bpp = int.from_bytes(b[28:30], "little")
    if bpp != 24:
        raise ValueError(f"unsupported bpp {bpp}")
    data_off = int.from_bytes(b[10:14], "little")
    width = int.from_bytes(b[18:22], "little", signed=True)
    height = abs(int.from_bytes(b[22:26], "little", signed=True))
    stride = (width * 3 + 3) // 4 * 4
    return np.frombuffer(
        b, dtype=np.uint8, count=stride * height, offset=data_off
    ).reshape(height, stride)[:, :width * 3][::-1]


def _build_bmp(seed: int) -> bytes:
    """BMP whose BGR pixel stream (row-major, top-down pixel index
    i = y*width + x) is byte j = 3*i + channel of the LCG stream."""
    width, height = _bmp_dims(seed)
    return _encode_bmp(np.frombuffer(
        _lcg_bytes(seed, 0, width * 3 * height), dtype=np.uint8
    ).reshape(height, width * 3))


def _bmp_features(b: bytes) -> tuple:
    # one integer matmul with the BT.601 weights over every pixel
    # (exact: sum < 2^40), divided once
    px = _bmp_rows(b)
    height, width = px.shape[0], px.shape[1] // 3
    luma_sum = int(
        (px.reshape(-1, 3).astype(np.int64)
         @ np.array([114, 587, 299], np.int64)).sum())
    return len(b), width, height, 24, luma_sum / (1000.0 * width * height)


def decode_image_bmp(df: DataFrame, bin_col: str, id_col: str) -> DataFrame:
    """REAL BMP parser over a binary column (``_bmp_rows``), reduced to
    a mean BT.601 luma.

    The luma mean is computed as an exact integer sum of
    114*B + 587*G + 299*R divided ONCE by 1000*n — a single IEEE op
    on an exactly-represented integer, so the result is bit-identical
    to the oracle's identical division (functions/numeric.py doctrine:
    never round a float, make both engines run the same op sequence)."""
    return _decode(
        df, bin_col, id_col, _bmp_features,
        "id long, n_bytes long, width int, height int, bpp int, "
        "mean_luma double")


def synth_bmp(df: DataFrame, id_col: str) -> DataFrame:
    """One real BMP per row (``_synth``)."""
    return _synth(df, id_col, _build_bmp)


# ---------------------------------------------------------------------------
# PNG: a REAL standard compressed codec end-to-end, no external media
# library needed — the compression layer is stdlib zlib (RFC 1950/1951,
# the exact library every PNG tool links), the container and the five
# scanline filters (None/Sub/Up/Average/Paeth, PNG spec §9) are
# implemented here.  The synthesizer emits genuine PNG files (correct
# signature, CRC-32 per chunk, multi-IDAT, filters cycling through all
# five types); any external viewer opens them.  Pixels come from the
# shared LCG, so the DuckDB oracle predicts the DECODED features
# arithmetically — dims, exact pixel-byte sum, BT.601 luma mean —
# which keeps even this compressed path fully value-hash checked.
# ---------------------------------------------------------------------------


def _png_dims(seed: int) -> tuple[int, int]:
    return 5 + seed % 11, 3 + seed % 7


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib

    return (
        len(data).to_bytes(4, "big") + ctype + data
        + (zlib.crc32(ctype + data) & 0xFFFFFFFF).to_bytes(4, "big")
    )


def _png_filter_row(ftype: int, row: np.ndarray, prev: np.ndarray) -> np.ndarray:
    """Apply PNG filter ``ftype`` to one RGB scanline (encoder side).
    bpp = 3; ``prev`` is the UNFILTERED prior scanline (zeros for the
    first row)."""
    r = row.astype(np.int64)
    p = prev.astype(np.int64)
    left = np.concatenate([[0, 0, 0], r[:-3]])
    upleft = np.concatenate([[0, 0, 0], p[:-3]])
    if ftype == 0:
        out = r
    elif ftype == 1:
        out = r - left
    elif ftype == 2:
        out = r - p
    elif ftype == 3:
        out = r - (left + p) // 2
    else:  # 4: Paeth
        pa = np.abs(p - upleft)
        pb = np.abs(left - upleft)
        pc = np.abs(left + p - 2 * upleft)
        pred = np.where((pa <= pb) & (pa <= pc), left,
                        np.where(pb <= pc, p, upleft))
        out = r - pred
    return (out % 256).astype(np.uint8)


def _png_unfilter_row(
    ftype: int, row: np.ndarray, prev: np.ndarray
) -> np.ndarray:
    """Reverse one scanline filter (decoder side).  Sub/Average/Paeth
    carry a left-neighbor dependency, so those run as a per-pixel
    scan; None/Up are vectorized."""
    if ftype == 0:
        return row.copy()
    if ftype == 2:
        return ((row.astype(np.int64) + prev) % 256).astype(np.uint8)
    if ftype == 1:
        # Sub is a per-channel prefix sum mod 256 — vectorized
        out = np.cumsum(row.reshape(-1, 3).astype(np.int64), axis=0) % 256
        return out.astype(np.uint8).reshape(-1)
    out = np.zeros_like(row, dtype=np.int64)
    r = row.astype(np.int64)
    p = prev.astype(np.int64)
    for j in range(len(row)):
        left = out[j - 3] if j >= 3 else 0
        up = p[j]
        ul = p[j - 3] if j >= 3 else 0
        if ftype == 1:
            pred = left
        elif ftype == 3:
            pred = (left + up) // 2
        elif ftype == 4:
            pa, pb, pc = abs(up - ul), abs(left - ul), abs(left + up - 2 * ul)
            pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[j] = (r[j] + pred) % 256
    return out.astype(np.uint8)


def _build_png(seed: int) -> bytes:
    """One real 8-bit RGB PNG: pixel i channel c is LCG byte 3*i + c,
    scanline y filtered with type y % 5 (all five spec filters
    exercised), the deflate stream split across two IDAT chunks when
    possible (decoders must concatenate IDATs, spec §5.6)."""
    import zlib

    width, height = _png_dims(seed)
    rowlen = width * 3
    raw = np.frombuffer(
        _lcg_bytes(seed, 0, rowlen * height), dtype=np.uint8
    ).reshape(height, rowlen)
    prev = np.zeros(rowlen, dtype=np.uint8)
    stream = bytearray()
    for y in range(height):
        ftype = y % 5
        stream.append(ftype)
        stream += _png_filter_row(ftype, raw[y], prev).tobytes()
        prev = raw[y]
    comp = zlib.compress(bytes(stream), 6)
    ihdr = (
        width.to_bytes(4, "big") + height.to_bytes(4, "big")
        + bytes([8, 2, 0, 0, 0])  # depth 8, color type 2 (RGB)
    )
    mid = max(1, len(comp) // 2)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", comp[:mid])
        + _png_chunk(b"IDAT", comp[mid:])
        + _png_chunk(b"IEND", b"")
    )


def synth_png(df: DataFrame, id_col: str) -> DataFrame:
    """One real PNG per row (``_synth``)."""
    return _synth(df, id_col, _build_png)


def _png_features(b: bytes) -> tuple:
    import zlib

    if b[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, bytearray()
    while pos < len(b):
        clen = int.from_bytes(b[pos:pos + 4], "big")
        ctype = b[pos + 4:pos + 8]
        data = b[pos + 8:pos + 8 + clen]
        crc = int.from_bytes(b[pos + 8 + clen:pos + 12 + clen], "big")
        if (zlib.crc32(ctype + data) & 0xFFFFFFFF) != crc:
            raise ValueError(f"CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if ihdr is None:
        raise ValueError("missing IHDR")
    width = int.from_bytes(ihdr[0:4], "big")
    height = int.from_bytes(ihdr[4:8], "big")
    depth, ctype_id = ihdr[8], ihdr[9]
    if (depth, ctype_id) != (8, 2):
        raise ValueError("only 8-bit RGB supported")
    stream = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    rowlen = width * 3
    rows = stream.reshape(height, rowlen + 1)
    prev = np.zeros(rowlen, dtype=np.int64)
    luma_sum = 0
    px_sum = 0
    w = np.zeros(rowlen, dtype=np.int64)
    w[0::3], w[1::3], w[2::3] = 299, 587, 114  # R,G,B order
    for y in range(height):
        raw = _png_unfilter_row(int(rows[y, 0]), rows[y, 1:], prev)
        r64 = raw.astype(np.int64)
        px_sum += int(r64.sum())
        luma_sum += int((r64 * w).sum())
        prev = r64
    return (width, height, int(depth), int(ctype_id), px_sum,
            luma_sum / (1000.0 * width * height))


def decode_image_png(df: DataFrame, bin_col: str, id_col: str) -> DataFrame:
    """REAL PNG decoder over a binary column: validates the signature
    and every chunk's CRC-32, parses IHDR, concatenates IDAT chunks,
    zlib-inflates, reverses the scanline filters, and reduces the RGB
    pixels to exact features (pixel-byte sum and a BT.601 luma mean
    computed in integer math, one final IEEE division — the
    cross-engine determinism doctrine of decode_image_bmp)."""
    return _decode(
        df, bin_col, id_col, _png_features,
        "id long, width int, height int, bit_depth int, "
        "color_type int, pixel_sum long, mean_luma double")


_WAV_RATES = (8000, 16000, 22050, 44100, 48000)


def _wav_shape(seed: int) -> tuple[int, int, int]:
    return _WAV_RATES[seed % 5], 1 + seed % 2, 64 + seed % 97


def _build_wav(seed: int) -> bytes:
    """Canonical RIFF/WAVE PCM16 file; interleaved sample k is the
    LCG byte-pair ((seed*A + k*B) % 65536) - 32768, little-endian."""
    rate, channels, n_frames = _wav_shape(seed)
    n_samples = n_frames * channels
    base = np.int64(seed) * np.int64(LCG_A)
    k = np.arange(n_samples, dtype=np.int64)
    data = (
        ((base + k * np.int64(LCG_B)) % 65536) - 32768
    ).astype("<i2").tobytes()
    byte_rate = rate * channels * 2
    fmt = (
        b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")
        + channels.to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + byte_rate.to_bytes(4, "little")
        + (channels * 2).to_bytes(2, "little")
        + (16).to_bytes(2, "little")
    )
    payload = b"WAVE" + fmt + b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + len(payload).to_bytes(4, "little") + payload


def synth_wav(df: DataFrame, id_col: str) -> DataFrame:
    """One real WAV per row (``_synth``)."""
    return _synth(df, id_col, _build_wav)


def _wav_features(b: bytes) -> tuple:
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, rate, channels, data = 12, None, None, None
    while pos + 8 <= len(b):
        cid = b[pos:pos + 4]
        size = int.from_bytes(b[pos + 4:pos + 8], "little")
        body = b[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            channels = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    n_samples = len(data) // 2
    # int64 sum of int32 squares: exact (|s| <= 32768, so
    # s*s*n_samples stays far below 2^63)
    s = np.frombuffer(data, dtype="<i2", count=n_samples).astype(np.int64)
    sq = int((s * s).sum())
    n_frames = n_samples // channels
    return (len(b), rate, channels, n_frames, n_frames / rate,
            math.sqrt(sq / n_samples) if n_samples else 0.0)


def decode_audio_wav(df: DataFrame, bin_col: str, id_col: str) -> DataFrame:
    """REAL WAV parser: walks RIFF chunks (not fixed offsets — skips
    unknown chunks like a proper reader), reads fmt fields, and
    reduces the PCM16 stream to frames/duration/RMS. The RMS uses an
    exact integer sum of squares, one IEEE divide, one IEEE sqrt —
    bit-identical to the oracle running the same three ops."""
    return _decode(
        df, bin_col, id_col, _wav_features,
        "id long, n_bytes long, sample_rate int, n_channels int, "
        "n_frames long, duration_s double, rms double")


FRAME_BYTES = 256


def _frame_count(seed: int) -> int:
    return 4 + seed % 7


def _build_frame_container(seed: int) -> bytes:
    """FRMS container: magic + uint32 frame count + fixed 256-byte
    frames drawn from one continuous LCG stream (frame f covers bytes
    f*256 .. f*256+255). Stands in for a video elementary stream."""
    n = _frame_count(seed)
    return (b"FRMS" + n.to_bytes(4, "little")
            + _lcg_bytes(seed, 0, n * FRAME_BYTES))


def synth_frame_container(df: DataFrame, id_col: str) -> DataFrame:
    """One real FRMS container per row (``_synth``)."""
    return _synth(df, id_col, _build_frame_container)


def _frame_samples(b: bytes, every: int, fps: float) -> list:
    if b[:4] != b"FRMS":
        raise ValueError("not a FRMS payload")
    n = int.from_bytes(b[4:8], "little")
    # frame matrix view + strided row-sum: one numpy reduction per
    # document instead of a Python loop over every sampled byte
    sums = np.frombuffer(
        b, dtype=np.uint8, count=n * FRAME_BYTES, offset=8
    ).reshape(n, FRAME_BYTES)[::every].sum(axis=1, dtype=np.int64)
    return [(f, f / fps, s)
            for f, s in zip(range(0, n, every), sums.tolist())]


def sample_frames_real(
    df: DataFrame, bin_col: str, id_col: str,
    every: int = 2, fps: float = 1.0,
) -> DataFrame:
    """REAL frame sampler: parses the container header, slices every
    k-th fixed-size frame, and emits one row per sampled frame with
    an integer byte-sum checksum (oracle-predictable) — the
    row-expanding map shape an ffmpeg keyframe sampler uses."""
    return _decode(
        df, bin_col, id_col, lambda b: _frame_samples(b, every, fps),
        "id long, frame_idx int, ts_offset_s double, frame_sum long")


def _bmp_resize(b: bytes) -> tuple:
    px = _bmp_rows(b)
    h, w = px.shape[0], px.shape[1] // 3
    ow, oh = w // 2, h // 2
    a3 = px.reshape(h, w, 3)[: 2 * oh, : 2 * ow, :].astype(np.int64)
    totals = (
        a3.reshape(oh, 2, 2 * ow, 3).sum(axis=1)
        .reshape(oh, ow, 2, 3).sum(axis=2)
    )
    resized = (totals // 4).astype(np.uint8)
    return (w, h, ow, oh, int(resized.sum()),
            _encode_bmp(resized.reshape(oh, ow * 3)))


def resize_image_bmp(df: DataFrame, bin_col: str, id_col: str) -> DataFrame:
    """REAL binary -> binary image resize: decode the 24bpp BMP, box-
    downsample 2x (each output pixel is the integer mean of its 2x2
    source block, floor division — exact, engine-portable arithmetic),
    re-encode a standard-compliant BMP, and emit the new dims plus an
    exact integer checksum of the resized pixel stream.  This replaces
    an opaque byte-truncation placeholder: the decode/compute/
    re-encode stays a narrow Arrow-batched map (binary in, binary
    out), which is the shape that matters at 100 TB — pixels never
    leave the executor, only dims and checksums reach any aggregate.

    Odd source dims drop the trailing row/column (floor semantics),
    matching the SQL oracle's closed form over the LCG stream."""
    return _decode(
        df, bin_col, id_col, _bmp_resize,
        "id long, in_width int, in_height int, out_width int, "
        "out_height int, out_sum long, resized binary")
