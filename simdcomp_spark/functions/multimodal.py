"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata.

:func:`extract_features` runs the decoders it is given (``decoders=``,
kind → ``(payload, meta) -> ndarray``) inside one ``mapInPandas``; a
kind with no decoder raises ``NotImplementedError``.  Two image decoders
ship here: Pillow's when it is importable, and a pure-stdlib PNG decoder
(zlib + spec unfiltering) that keeps image decode real without it.
:func:`encode_gray_png` writes deterministic PNG payloads for the gate.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
from pyspark.sql import DataFrame

MEDIA_SCHEMA = ("media_id string, kind string, payload binary, mime string, "
                "width int, height int, duration_ms int")

FEATURE_SCHEMA = ("media_id string, kind string, n_bytes long, "
                  "feature array<float>, frames int")


def pillow_image_decoder() -> Callable[[bytes, dict], np.ndarray] | None:
    """Image decoder via Pillow, or None when Pillow is not installed."""
    try:
        from PIL import Image  # noqa: F401
    except ImportError:
        return None

    def fn(payload: bytes, meta: dict) -> np.ndarray:
        import io
        from PIL import Image
        with Image.open(io.BytesIO(payload)) as im:
            return np.asarray(im.convert("L"), dtype=np.float32).ravel()

    return fn


def stdlib_png_decoder() -> Callable[[bytes, dict], np.ndarray]:
    """Pure-stdlib PNG decoder (zlib inflate + spec unfiltering) — makes
    the image path REAL in environments without Pillow.  Supports 8-bit
    depth, color types 0/2/3/4/6 (gray, RGB, palette, gray+alpha, RGBA),
    non-interlaced; anything else is refused loudly (never silently
    wrong).  Returns the luma plane as float32 raveled row-major
    (0.299R + 0.587G + 0.114B; alpha ignored), mirroring the Pillow
    decoder's convert("L") shape.  Written from the PNG spec
    (RFC 2083 §6: filter types 0-4 incl. the Paeth predictor)."""

    def paeth(a: int, b: int, c: int) -> int:
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    def fn(payload: bytes, meta: dict) -> np.ndarray:
        import struct
        import zlib
        if payload[:8] != b"\x89PNG\r\n\x1a\n":
            raise ValueError("not a PNG (bad signature)")
        pos, idat, plte, hdr = 8, bytearray(), None, None
        while pos + 8 <= len(payload):
            ln, typ = struct.unpack(">I4s", payload[pos:pos + 8])
            data = payload[pos + 8:pos + 8 + ln]
            pos += 12 + ln                      # skip CRC
            if typ == b"IHDR":
                hdr = struct.unpack(">IIBBBBB", data)
            elif typ == b"PLTE":
                plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
            elif typ == b"IDAT":
                idat += data
            elif typ == b"IEND":
                break
        if hdr is None:
            raise ValueError("PNG missing IHDR")
        w, h, depth, ctype, comp, filt, interlace = hdr
        if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
            raise NotImplementedError(
                f"stdlib PNG decoder: only 8-bit non-interlaced PNGs "
                f"(got depth={depth}, interlace={interlace})")
        nchan = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
        if nchan is None:
            raise ValueError(f"PNG color type {ctype} invalid")
        raw = np.frombuffer(zlib.decompress(bytes(idat)), np.uint8)
        stride = w * nchan
        if raw.size != h * (stride + 1):
            raise ValueError("PNG IDAT size mismatch")
        raw = raw.reshape(h, stride + 1)
        out = np.zeros((h, stride), dtype=np.uint8)
        for y in range(h):
            ft, line = int(raw[y, 0]), raw[y, 1:].astype(np.int32)
            prev = out[y - 1].astype(np.int32) if y else np.zeros(
                stride, np.int32)
            if ft == 0:
                cur = line
            elif ft == 2:                        # Up
                cur = line + prev
            elif ft in (1, 3, 4):                # Sub/Average/Paeth:
                cur = np.zeros(stride, np.int32)  # sequential along row
                for x in range(stride):
                    # mask to a byte HERE: the spec's Recon(x) feeds the
                    # next pixel's predictor as a byte, not an int
                    a = cur[x - nchan] if x >= nchan else 0
                    if ft == 1:
                        cur[x] = (line[x] + a) & 0xFF
                    elif ft == 3:
                        cur[x] = (line[x] + ((a + prev[x]) >> 1)) & 0xFF
                    else:
                        c = prev[x - nchan] if x >= nchan else 0
                        cur[x] = (line[x]
                                  + paeth(a, int(prev[x]), c)) & 0xFF
            else:
                raise ValueError(f"PNG filter type {ft} invalid")
            out[y] = cur & 0xFF
        px = out.reshape(h, w, nchan)
        if ctype == 3:
            if plte is None:
                raise ValueError("palette PNG missing PLTE")
            px = plte[px[:, :, 0]]
            nchan = 3
        f = px.astype(np.float32)
        if nchan == 1 or nchan == 2:             # gray / gray+alpha
            luma = f[:, :, 0]
        else:                                    # RGB / RGBA
            luma = (0.299 * f[:, :, 0] + 0.587 * f[:, :, 1]
                    + 0.114 * f[:, :, 2])
        return luma.astype(np.float32).ravel()

    return fn


def encode_gray_png(pixels: bytes, width: int = 16) -> bytes:
    """Minimal deterministic PNG writer: 8-bit grayscale, filter 0 rows,
    STORED (level-0) zlib blocks — output bytes are a pure function of
    the input across zlib builds, so a SQL oracle can predict the exact
    file size (57 + 2 + 5*ceil(raw/65535) + raw + 4 bytes for
    raw = rows*(width+1)).  The last row is zero-padded.  Used by tests
    and the multimodal gate to synthesize REAL image payloads; shares
    only the PNG spec with the decoder above."""
    import struct
    import zlib
    w = int(width)
    h = max(1, -(-len(pixels) // w))
    padded = pixels + b"\x00" * (w * h - len(pixels))
    raw = b"".join(b"\x00" + padded[y * w:(y + 1) * w] for y in range(h))

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 0)) + chunk(b"IEND", b""))


def extract_features(df: DataFrame, decoders: dict) -> DataFrame:
    """media table → per-item feature vectors via mapInPandas.

    The UDF decodes each item, mean-pools to a fixed-length float feature,
    and reports byte/frame counts.  Arrow carries the binary payloads in
    zero-copy batches.  ``decoders`` (kind → decoder) travels WITH the
    closure to the Python workers.
    """
    decoders = dict(decoders)

    def _dec(kind, payload):
        fn = decoders.get(kind)
        if fn is None:
            raise NotImplementedError(
                f"no {kind!r} decoder given — pass one in decoders=")
        return fn(payload, {})

    def fn(it):
        import pandas as pd
        for pdf in it:
            feats, nbytes, frames = [], [], []
            for kind, payload in zip(pdf["kind"], pdf["payload"]):
                data = _dec(kind, bytes(payload))
                pooled = data.astype(np.float32)
                if pooled.size < 16:
                    pooled = np.pad(pooled, (0, 16 - pooled.size))
                feats.append(pooled[:16])
                nbytes.append(len(payload))
                frames.append(int(data.size))
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": pd.Series(nbytes, dtype="int64"),
                "feature": feats,
                "frames": pd.Series(frames, dtype="int32"),
            })

    return df.mapInPandas(fn, schema=FEATURE_SCHEMA)
