"""Pure-stdlib media codecs for the multimodal decode path.

The container has no PIL/ffmpeg, so real decode support is provided for
two self-describing formats whose specs are simple enough to implement
from scratch: uncompressed 24-bit BMP (BITMAPFILEHEADER +
BITMAPINFOHEADER, BI_RGB) and PCM WAV (RIFF/WAVE with a 16-bit 'data'
chunk).  Encoders exist so tests and query keys can synthesize REAL
byte streams deterministically from table columns and prove the decode
round-trip against a SQL oracle — the decoder sees only bytes, exactly
as it would with externally-produced media.

Reference parity: the reference has no media path at all (SURVEY §2 —
multimodal is a north-star extension); the Spark-side plumbing these
feed is in operators/multimodal.py.
"""

from __future__ import annotations

import struct


# --- BMP (24bpp, BI_RGB, bottom-up) -----------------------------------------


def encode_bmp(width: int, height: int, pixel) -> bytes:
    """Encode a width x height 24-bit uncompressed BMP.  ``pixel(x, y)``
    returns (r, g, b) with origin top-left; rows are written bottom-up and
    padded to 4 bytes per the spec."""
    if width <= 0 or height <= 0:
        raise ValueError("BMP dimensions must be positive")
    row_stride = (width * 3 + 3) & ~3
    pad = b"\x00" * (row_stride - width * 3)
    rows = []
    for y in range(height - 1, -1, -1):  # bottom-up
        row = bytearray()
        for x in range(width):
            r, g, b = pixel(x, y)
            row += bytes((b & 0xFF, g & 0xFF, r & 0xFF))  # BGR on disk
        rows.append(bytes(row) + pad)
    pixels = b"".join(rows)
    info = struct.pack(
        "<IiiHHIIiiII",
        40, width, height, 1, 24, 0, len(pixels), 2835, 2835, 0, 0,
    )
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pixels), 0, 0, 54)
    return header + info + pixels


def decode_bmp(
    data: bytes, with_red_rows: bool = False, with_pixel_rows: bool = False
) -> dict:
    """Decode an uncompressed 24-bit BMP: returns width, height, and the
    per-channel pixel sums (order-independent, so bottom-up storage and
    row padding must be handled but cannot hide an error).
    ``with_red_rows`` additionally returns the red channel as a
    TOP-DOWN row-major list of rows (for feature extraction; off by
    default to keep the metadata path allocation-light).
    ``with_pixel_rows`` returns full (r, g, b) tuples in the same
    top-down row-major layout (palette/quantization features)."""
    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP stream")
    offset = struct.unpack_from("<I", data, 10)[0]
    hdr_size, width, height = struct.unpack_from("<Iii", data, 14)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    if hdr_size < 40 or planes != 1 or bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP variant (bpp={bpp}, comp={compression})")
    # mirror the encoder-side bound checks: a crafted non-positive width
    # would make row_stride nonsense below instead of failing loudly
    if width <= 0 or height == 0:
        raise ValueError(f"invalid BMP dimensions ({width}x{height})")
    top_down = height < 0
    height = abs(height)
    row_stride = (width * 3 + 3) & ~3
    if offset + row_stride * height > len(data):
        raise ValueError("truncated BMP pixel array")
    sum_r = sum_g = sum_b = 0
    red_rows: list[list[int]] = []
    pixel_rows: list[list[tuple[int, int, int]]] = []
    for row_i in range(height):
        base = offset + row_i * row_stride
        row = data[base : base + width * 3]
        sum_b += sum(row[0::3])
        sum_g += sum(row[1::3])
        sum_r += sum(row[2::3])
        if with_red_rows:
            red_rows.append(list(row[2::3]))
        if with_pixel_rows:
            pixel_rows.append(
                [(row[i + 2], row[i + 1], row[i]) for i in range(0, width * 3, 3)]
            )
    out = {
        "format": "bmp",
        "width": width,
        "height": height,
        "top_down": top_down,
        "sum_r": sum_r,
        "sum_g": sum_g,
        "sum_b": sum_b,
    }
    if with_red_rows:
        # storage order is bottom-up unless the height was negative:
        # normalize so callers always receive top-down rows
        out["red_rows"] = red_rows if top_down else red_rows[::-1]
    if with_pixel_rows:
        out["pixel_rows"] = pixel_rows if top_down else pixel_rows[::-1]
    return out


# --- WAV (RIFF/WAVE, PCM16) ---------------------------------------------------


def encode_wav(sample_rate: int, samples: list[int]) -> bytes:
    """Encode mono PCM16 WAV from integer samples in [-32768, 32767]."""
    body = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return (
        struct.pack("<4sI4s", b"RIFF", 4 + 8 + len(fmt) + 8 + len(body), b"WAVE")
        + struct.pack("<4sI", b"fmt ", len(fmt))
        + fmt
        + struct.pack("<4sI", b"data", len(body))
        + body
    )


def decode_wav(data: bytes, with_samples: bool = False) -> dict:
    """Decode PCM16 WAV headers + samples: walks the RIFF chunk list (so
    extra chunks like LIST/INFO are skipped correctly, not assumed absent).
    ``with_samples`` additionally returns the raw sample list (for
    per-frame feature extraction; off by default to keep the metadata
    path allocation-light)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV stream")
    pos, fmt, body = 12, None, None
    while pos + 8 <= len(data):
        cid, size = struct.unpack_from("<4sI", data, pos)
        pos += 8
        # chunk sizes are untrusted: an oversized declared size would
        # silently truncate the body slice and yield wrong-but-plausible
        # stats — fail loudly instead
        if size > len(data) - pos:
            raise ValueError(
                f"truncated WAV: chunk {cid!r} declares {size} bytes, "
                f"{len(data) - pos} remain"
            )
        if cid == b"fmt ":
            if size < 16:
                raise ValueError(f"WAV fmt chunk too short ({size} bytes)")
            fmt = struct.unpack_from("<HHIIHH", data, pos)
        elif cid == b"data":
            body = data[pos : pos + size]
        pos += size + (size & 1)  # chunks are word-aligned
    if fmt is None or body is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, channels, sample_rate, _, _, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(f"unsupported WAV variant (fmt={audio_format}, bits={bits})")
    n = len(body) // 2
    samples = struct.unpack(f"<{n}h", body[: n * 2])
    out = {
        "format": "wav",
        "channels": channels,
        "sample_rate": sample_rate,
        "n_samples": n // channels,
        "sum_abs": sum(abs(s) for s in samples),
    }
    if with_samples:
        out["samples"] = list(samples)
    return out


def decode_media(data: bytes) -> dict:
    """Sniff + decode: dispatch on magic bytes."""
    if data[:2] == b"BM":
        return decode_bmp(data)
    if data[:4] == b"RIFF":
        return decode_wav(data)
    raise ValueError(f"unrecognized media magic {data[:4]!r}")


# --- deterministic test-payload synthesis ------------------------------------
# THE generation formulas for the synthetic media corpus, defined once:
# every key's Python generator calls these, and every DuckDB oracle
# restates the same closed forms textually.  A change here must be
# mirrored in the oracles — which is exactly why there is one copy.


def synth_bmp_payload(doc_id: int) -> bytes:
    """Y30-family BMP: width/height are small functions of doc_id, pixel
    (x, y) gray-coded per channel (origin top-left)."""
    w, h = 4 + doc_id % 13, 3 + doc_id % 11
    return encode_bmp(
        w, h,
        lambda x, y: ((3 * x + 5 * y) % 251, (x * y) % 251, (x + 7 * y) % 251),
    )


def synth_wav_payload(doc_id: int) -> bytes:
    """Y31-family WAV: sample rate and count are functions of doc_id,
    samples a deterministic sawtooth over the full PCM16 range."""
    rate = 8000 + (doc_id % 3) * 4000
    n = 20 + doc_id % 17
    samples = [((doc_id * 31 + i * 17) % 65536) - 32768 for i in range(n)]
    return encode_wav(rate, samples)


def synth_payload_frame(docs, synth):
    """``(doc_id long, payload binary)``: ``synth(doc_id)`` bytes for each
    row of ``docs`` (``synth_bmp_payload`` or ``synth_wav_payload``), in
    one mapInPandas stage — REAL encoded bytes, so the decoder downstream
    sees only the payload column.  pandas is imported inside the stage;
    this module stays pure stdlib for executor-side decode."""

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            payloads = [synth(int(d)) for d in pdf["doc_id"]]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.select("doc_id").mapInPandas(gen, schema="doc_id long, payload binary")
