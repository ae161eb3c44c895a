"""Pure-stdlib media codecs for the multimodal operators.

The runtime has no Pillow/libav, but two real formats are decodable
with nothing beyond the standard library + numpy:

- **PNG** — zlib (stdlib) inflate + per-scanline unfilter (spec
  filters 0-4: None/Sub/Up/Average/Paeth), 8-bit depth, grayscale /
  gray+alpha / RGB / RGBA, non-interlaced. A matching minimal encoder
  (filter 0) exists so tests can round-trip without any external
  image library.
- **WAV** — stdlib ``wave`` for PCM payloads.
- **JPEG (baseline sequential)** — full marker parse, canonical
  Huffman entropy decode (DC prediction, AC run-length, restart
  markers), dequantize + inverse zigzag + IDCT (numpy matrix form),
  chroma upsampling and JFIF YCbCr→RGB. Progressive/arithmetic/12-bit
  scans raise ``NotImplementedError``. A minimal baseline encoder
  (4:4:4, Annex K Huffman tables, uniform quantization) exists for
  round-trip tests and payload generation.

This turns ``multimodal.decode_image_batch(fake=False)`` into a real
decode path for PNG and baseline-JPEG payloads; video containers
(MP4…) remain honestly stubbed behind ``NotImplementedError`` — the
container forbids installing codec libraries.

Decode cost model at scale: decode runs in a per-row ``mapInArrow``
pass, partition-local (no shuffle carries pixel data); the per-image
Python loop over scanlines is bounded by image height, and the zlib
inflate dominates — same asymptotics as a C decoder, constant factor higher.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

#: color type → samples per pixel
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def is_png(data: bytes) -> bool:
    return data[:8] == _PNG_MAGIC


def png_encode(arr: np.ndarray) -> bytes:
    """Minimal PNG writer (8-bit, filter 0, one IDAT). Accepts (H, W)
    grayscale or (H, W, C) with C in {1, 2, 3, 4}."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    raw = b"".join(b"\x00" + a[y].tobytes() for y in range(h))

    def chunk(tag: bytes, payload: bytes) -> bytes:
        body = tag + payload
        return struct.pack(">I", len(payload)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def png_decode(data: bytes) -> np.ndarray:
    """Decode an 8-bit non-interlaced PNG to (H, W, C) uint8.

    Implements the full filter set from the PNG spec (RFC 2083 §6):
    scanline reconstruction is sequential by definition (each byte may
    reference the reconstructed left/up neighbors), so rows decode in
    a Python loop — vectorized per-row for filters None/Up, per-byte
    only where the spec forces it (Sub/Average/Paeth left-dependency).
    """
    if not is_png(data):
        raise ValueError("not a PNG payload")
    pos = 8
    width = height = None
    bit_depth = color_type = interlace = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    if bit_depth != 8:
        raise NotImplementedError(f"PNG bit depth {bit_depth} (only 8 supported)")
    if color_type not in _CHANNELS:
        raise NotImplementedError(f"PNG color type {color_type}")
    if interlace:
        raise NotImplementedError("interlaced PNG")
    channels = _CHANNELS[color_type]
    stride = width * channels
    raw = zlib.decompress(bytes(idat))
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG data length mismatch")

    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    bpp = channels  # bytes per pixel at 8-bit depth
    for y in range(height):
        off = y * (stride + 1)
        ftype = raw[off]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=off + 1)
        if ftype == 0:  # None
            recon = line.copy()
        elif ftype == 2:  # Up
            recon = line + prev
        elif ftype == 1:  # Sub
            recon = line.copy()
            for x in range(bpp, stride):
                recon[x] = (int(recon[x]) + int(recon[x - bpp])) & 0xFF
        elif ftype == 3:  # Average
            recon = line.copy()
            for x in range(stride):
                left = int(recon[x - bpp]) if x >= bpp else 0
                recon[x] = (int(line[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            recon = line.copy()
            for x in range(stride):
                a = int(recon[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                recon[x] = (int(line[x]) + _paeth(a, b, c)) & 0xFF
        else:
            raise ValueError(f"PNG filter type {ftype}")
        out[y] = recon
        prev = recon
    return out.reshape(height, width, channels)


def wav_decode(data: bytes) -> tuple[int, np.ndarray]:
    """Decode a PCM WAV payload → (sample_rate, samples[n, channels])
    as int16/int32/uint8 depending on sample width."""
    with wave.open(io.BytesIO(data), "rb") as w:
        rate = w.getframerate()
        n = w.getnframes()
        ch = w.getnchannels()
        width = w.getsampwidth()
        frames = w.readframes(n)
    dtype = {1: np.uint8, 2: np.int16, 4: np.int32}.get(width)
    if dtype is None:
        raise NotImplementedError(f"WAV sample width {width}")
    arr = np.frombuffer(frames, dtype=dtype)
    return rate, arr.reshape(-1, ch)


def wav_encode(rate: int, samples: np.ndarray) -> bytes:
    """Minimal PCM WAV writer for round-trip tests (int16 samples)."""
    a = np.asarray(samples, dtype=np.int16)
    if a.ndim == 1:
        a = a[:, None]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(a.shape[1])
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(a.tobytes())
    return buf.getvalue()


# --------------------------------------------------------------------------
# Baseline JPEG (ITU-T T.81 / ISO 10918-1, sequential DCT, 8-bit)
# --------------------------------------------------------------------------
#
# A real decoder: marker parse → DQT/DHT/SOF0/SOS → canonical Huffman
# entropy decode (DC prediction + AC run-length with ZRL/EOB, restart
# markers) → dequantize → inverse zigzag → IDCT → chroma upsample →
# YCbCr→RGB (JFIF/BT.601) → crop to SOF dims. Grayscale and 3-component
# scans with sampling factors 1-2 are supported; progressive DCT,
# arithmetic coding and 12-bit depth are out of baseline scope and
# raise. The matching encoder emits baseline grayscale/RGB with the
# spec's Annex K Huffman tables so tests round-trip without any codec
# library. All constants below are from the public JPEG specification.

_JPEG_MAGIC = b"\xff\xd8"

#: zigzag scan order: index i of the scan → (row, col) flat offset
_ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

#: Annex K.3 typical Huffman tables: (bits[1..16], values)
_STD_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_STD_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8×8 DCT-II matrix: block spectrum = M @ B @ M.T."""
    k = np.arange(8)[:, None]
    n = np.arange(8)[None, :]
    m = np.cos((2 * n + 1) * k * np.pi / 16.0)
    m[0] *= np.sqrt(1.0 / 2.0)
    return m * 0.5


_DCT_M = _dct_matrix()


def is_jpeg(data: bytes) -> bool:
    return data[:2] == _JPEG_MAGIC


def _canonical_codes(bits: list[int], values: list[int]) -> dict[tuple[int, int], int]:
    """(code_length, code) → symbol, per the spec's canonical ordering."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    vi = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[vi]
            vi += 1
            code += 1
        code <<= 1
    return table


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def put(self, value: int, length: int) -> None:
        self._acc = (self._acc << length) | (value & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            self._n -= 8
            byte = (self._acc >> self._n) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.buf.append(0x00)

    def flush(self) -> None:
        if self._n:
            self.put(0x7F, 7 - ((self._n - 1) % 8) + 1)  # pad with 1s


class _BitReader:
    """Entropy-segment bit reader with 0xFF00 de-stuffing; stops (and
    reports position) at any non-RST marker."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def _fill(self) -> None:
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:  # RST handled by caller via sync()
                raise _RestartMarker(nxt)
            else:
                raise EOFError("marker inside entropy data")
        else:
            self.pos += 1
        self._acc = (self._acc << 8) | b
        self._n += 8

    def bit(self) -> int:
        if self._n == 0:
            self._fill()
        self._n -= 1
        return (self._acc >> self._n) & 1

    def receive(self, length: int) -> int:
        v = 0
        for _ in range(length):
            v = (v << 1) | self.bit()
        return v

    def sync_restart(self) -> None:
        """Consume an expected RSTn marker and reset bit state."""
        self._acc = 0
        self._n = 0
        if (
            self.data[self.pos] == 0xFF
            and 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            self.pos += 2


class _RestartMarker(Exception):
    def __init__(self, marker: int) -> None:
        self.marker = marker


def _decode_huffman(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _extend(v: int, t: int) -> int:
    """JPEG EXTEND: map a t-bit magnitude to its signed value."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def jpeg_decode(data: bytes) -> np.ndarray:
    """Decode a baseline sequential JPEG to (H, W, C) uint8 (C = 1 for
    grayscale scans, 3 for YCbCr scans converted to RGB)."""
    if not is_jpeg(data):
        raise ValueError("not a JPEG payload")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}  # (class, id) → code table
    frame = None  # (H, W, [(comp_id, h, v, tq), ...])
    restart_interval = 0
    out = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        (seg_len,) = struct.unpack_from(">H", data, pos)
        seg = data[pos + 2 : pos + seg_len]
        if marker == 0xDB:  # DQT
            off = 0
            while off < len(seg):
                pq, tq = seg[off] >> 4, seg[off] & 0xF
                off += 1
                if pq:  # 16-bit table
                    q = np.frombuffer(seg, dtype=">u2", count=64, offset=off)
                    off += 128
                else:
                    q = np.frombuffer(seg, dtype=np.uint8, count=64, offset=off)
                    off += 64
                qtables[tq] = q.astype(np.int64)
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(seg):
                tc, th = seg[off] >> 4, seg[off] & 0xF
                bits = list(seg[off + 1 : off + 17])
                n = sum(bits)
                vals = list(seg[off + 17 : off + 17 + n])
                htables[(tc, th)] = _canonical_codes(bits, vals)
                off += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            _, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            comps = []
            for i in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", seg, 6 + 3 * i)
                comps.append((cid, hv >> 4, hv & 0xF, tq))
            frame = (h, w, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError(
                f"JPEG SOF{marker - 0xC0}: only baseline sequential (SOF0) supported"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF0")
            ns = seg[0]
            sel = {}
            for i in range(ns):
                cs, tdta = seg[1 + 2 * i], seg[2 + 2 * i]
                sel[cs] = (tdta >> 4, tdta & 0xF)
            out = _decode_scan(
                data, pos + seg_len, frame, sel, qtables, htables, restart_interval
            )
            break
        # APPn/COM/others: skip
        pos += seg_len
    if out is None:
        raise ValueError("JPEG missing SOS scan")
    return out


def _decode_scan(data, pos, frame, sel, qtables, htables, restart_interval):
    height, width, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    planes = {}
    for cid, ch, cv, _ in comps:
        planes[cid] = np.zeros((mcuy * cv * 8, mcux * ch * 8), dtype=np.float64)
    reader = _BitReader(data, pos)
    pred = {cid: 0 for cid, *_ in comps}
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                reader.sync_restart()
                pred = {cid: 0 for cid, *_ in comps}
            for cid, ch, cv, tq in comps:
                dc_tab = htables[(0, sel[cid][0])]
                ac_tab = htables[(1, sel[cid][1])]
                q = qtables[tq]
                for by in range(cv):
                    for bx in range(ch):
                        zz = np.zeros(64, dtype=np.int64)
                        t = _decode_huffman(reader, dc_tab)
                        diff = _extend(reader.receive(t), t)
                        pred[cid] += diff
                        zz[0] = pred[cid]
                        k = 1
                        while k < 64:
                            rs = _decode_huffman(reader, ac_tab)
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC run past block end")
                            zz[k] = _extend(reader.receive(s), s)
                            k += 1
                        blk = np.zeros(64, dtype=np.float64)
                        blk[_ZIGZAG] = zz * q
                        blk = blk.reshape(8, 8)
                        pix = _DCT_M.T @ blk @ _DCT_M + 128.0
                        y0 = (my * cv + by) * 8
                        x0 = (mx * ch + bx) * 8
                        planes[cid][y0 : y0 + 8, x0 : x0 + 8] = pix
            mcu_count += 1
    # upsample each plane to full MCU-grid resolution, then crop
    full = []
    for cid, ch, cv, _ in comps:
        p = planes[cid]
        if ch != hmax or cv != vmax:
            p = np.repeat(np.repeat(p, vmax // cv, axis=0), hmax // ch, axis=1)
        full.append(p[:height, :width])
    if len(full) == 1:
        out = full[0][:, :, None]
    else:
        y, cb, cr = (full[0], full[1] - 128.0, full[2] - 128.0)
        r = y + 1.402 * cr
        g = y - 0.344136 * cb - 0.714136 * cr
        b = y + 1.772 * cb
        out = np.stack([r, g, b], axis=2)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def jpeg_encode(
    arr: np.ndarray,
    dc_quant: int = 8,
    ac_quant: int = 16,
) -> bytes:
    """Minimal baseline JPEG writer: grayscale (H, W) / (H, W, 1) or
    RGB (H, W, 3) at 4:4:4, uniform quantization (``dc_quant`` for the
    DC coefficient, ``ac_quant`` for AC), Annex K luminance Huffman
    tables for every component. ``dc_quant=8`` makes constant-fill
    images decode EXACTLY (the level-shifted DC is 8·(g−128), an exact
    multiple of 8; all AC are zero), which the oracle-checked
    multimodal query relies on."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, nc = a.shape
    if nc == 3:  # RGB → JFIF YCbCr
        rgb = a.astype(np.float64)
        y = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
        cb = 128.0 - 0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] + 0.5 * rgb[..., 2]
        cr = 128.0 + 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] - 0.081312 * rgb[..., 2]
        chans = [y, cb, cr]
    elif nc == 1:
        chans = [a[..., 0].astype(np.float64)]
    else:
        raise NotImplementedError(f"jpeg_encode channels {nc}")

    q = np.full(64, ac_quant, dtype=np.int64)
    q[0] = dc_quant
    dc_codes = _encode_lengths(_STD_DC_LUM)
    ac_codes = _encode_lengths(_STD_AC_LUM)

    bw = _BitWriter()
    pred = [0] * len(chans)
    bh, bwid = -(-h // 8), -(-w // 8)
    for by in range(bh):
        for bx in range(bwid):
            for ci, plane in enumerate(chans):
                blk = np.full((8, 8), float(plane[min(by * 8, h - 1), min(bx * 8, w - 1)]))
                ys, xs = by * 8, bx * 8
                tile = plane[ys : min(ys + 8, h), xs : min(xs + 8, w)]
                blk[: tile.shape[0], : tile.shape[1]] = tile
                # edge replicate padding for partial blocks
                if tile.shape[0] < 8:
                    blk[tile.shape[0] :, :] = blk[tile.shape[0] - 1, :]
                if tile.shape[1] < 8:
                    blk[:, tile.shape[1] :] = blk[:, tile.shape[1] - 1][:, None]
                spec = _DCT_M @ (blk - 128.0) @ _DCT_M.T
                zz = np.round(spec.flatten()[_ZIGZAG] / q).astype(np.int64)
                diff = int(zz[0]) - pred[ci]
                pred[ci] = int(zz[0])
                t = int(diff != 0 and int(np.abs(diff)).bit_length() or 0)
                code, ln = dc_codes[t]
                bw.put(code, ln)
                if t:
                    bw.put(diff if diff > 0 else diff + (1 << t) - 1, t)
                run = 0
                for k in range(1, 64):
                    v = int(zz[k])
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, ln = ac_codes[0xF0]
                        bw.put(code, ln)
                        run -= 16
                    s = int(np.abs(v)).bit_length()
                    code, ln = ac_codes[(run << 4) | s]
                    bw.put(code, ln)
                    bw.put(v if v > 0 else v + (1 << s) - 1, s)
                    run = 0
                if run:
                    code, ln = ac_codes[0x00]
                    bw.put(code, ln)
    bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    dqt = seg(0xDB, bytes([0x00]) + bytes(int(v) for v in q))
    ncomp = len(chans)
    sof_comps = b"".join(bytes([i + 1, 0x11, 0]) for i in range(ncomp))
    sof = seg(0xC0, struct.pack(">BHHB", 8, h, w, ncomp) + sof_comps)
    dht = seg(
        0xC4,
        bytes([0x00]) + bytes(_STD_DC_LUM[0]) + bytes(_STD_DC_LUM[1])
        + bytes([0x10]) + bytes(_STD_AC_LUM[0]) + bytes(_STD_AC_LUM[1]),
    )
    sos_comps = b"".join(bytes([i + 1, 0x00]) for i in range(ncomp))
    sos = seg(0xDA, bytes([ncomp]) + sos_comps + bytes([0, 63, 0]))
    return (
        _JPEG_MAGIC + dqt + sof + dht + sos + bytes(bw.buf) + b"\xff\xd9"
    )


def _encode_lengths(table: tuple[list[int], list[int]]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) from a (bits, values) spec table."""
    inv = {}
    for (length, code), sym in _canonical_codes(*table).items():
        inv[sym] = (code, length)
    return inv


# ----------------------------------------------------------- AVI (RIFF/MJPEG)
#
# Motion-JPEG inside an AVI RIFF container is the one video format this
# runtime can handle end-to-end with zero codec libraries: the container
# is plain chunked RIFF (fourcc + u32le size + payload, even-padded) and
# every frame is an independent baseline JPEG the decoder above already
# handles. Writer emits the canonical hdrl(avih + strl(strh+strf)) /
# movi('00dc' per frame) / idx1 layout; the parser is a generic RIFF
# chunk walker that tolerates unknown chunks (JUNK, INFO, ...), so it
# reads real-world MJPEG AVIs, not only its own output.


def is_avi(data: bytes) -> bool:
    return len(data) >= 12 and data[:4] == b"RIFF" and data[8:12] == b"AVI "


def _chunk(fourcc: bytes, payload: bytes) -> bytes:
    pad = b"\x00" if len(payload) % 2 else b""
    return fourcc + struct.pack("<I", len(payload)) + payload + pad


def _list(list_type: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", list_type + payload)


def avi_mjpeg_encode(
    frames: list[bytes], fps: int = 1, width: int = 0, height: int = 0
) -> bytes:
    """Minimal MJPEG-in-AVI writer: one video stream, one '00dc' chunk
    per JPEG frame, idx1 index. ``width``/``height`` default to the
    SOF0 dimensions of the first frame."""
    if not frames:
        raise ValueError("avi_mjpeg_encode needs at least one frame")
    if not (width and height):
        width, height = _jpeg_dimensions(frames[0])
    if fps <= 0:
        raise ValueError(f"fps must be positive, got {fps}")
    us_per_frame = 1_000_000 // fps
    max_bytes = max(len(f) for f in frames)

    avih = struct.pack(
        "<10I",
        us_per_frame, max_bytes * fps, 0, 0x10,  # flags: AVIF_HASINDEX
        len(frames), 0, 1, max_bytes, width, height,
    ) + b"\x00" * 16
    strh = (
        b"vidsMJPG"
        + struct.pack("<IHHIIIIIIiI", 0, 0, 0, 0, 1, fps, 0, len(frames),
                      max_bytes, -1, 0)
        + struct.pack("<4H", 0, 0, width, height)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )

    movi_payload = b"movi"
    idx_entries = []
    for f in frames:
        idx_entries.append((len(movi_payload) - 4, len(f)))  # offset from 'movi'
        movi_payload += _chunk(b"00dc", f)
    movi = _chunk(b"LIST", movi_payload)
    idx1 = _chunk(
        b"idx1",
        b"".join(
            b"00dc" + struct.pack("<III", 0x10, off + 4, size)
            for off, size in idx_entries
        ),
    )
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _jpeg_dimensions(data: bytes) -> tuple[int, int]:
    """(width, height) from the SOF0/1/2 marker of a JPEG payload."""
    i = 2
    while i + 4 <= len(data):
        if data[i] != 0xFF:
            i += 1
            continue
        marker = data[i + 1]
        if marker in (0xC0, 0xC1, 0xC2):
            h, w = struct.unpack(">HH", data[i + 5 : i + 9])
            return w, h
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        (seg_len,) = struct.unpack(">H", data[i + 2 : i + 4])
        i += 2 + seg_len
    raise ValueError("no SOF marker in JPEG payload")


def _riff_chunks(data: bytes, start: int, end: int):
    """Yield (fourcc, payload_start, payload_size) walking a RIFF chunk
    run; skips even-padding, stops cleanly on truncation."""
    pos = start
    while pos + 8 <= end:
        fourcc = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        payload = pos + 8
        if payload + size > end:
            break
        yield fourcc, payload, size
        pos = payload + size + (size % 2)


def avi_parse(data: bytes) -> dict:
    """Parse an AVI container: main-header timing/geometry + the MJPEG
    frame payloads, in stream order.

    Returns ``{"us_per_frame", "n_frames", "width", "height",
    "frames": [jpeg_bytes, ...]}``. Unknown chunks (JUNK, INFO, extra
    streams' packets) are skipped by fourcc, so the walker handles
    containers this writer did not produce. Non-RIFF/AVI payloads
    raise ``ValueError``; genuinely compressed codecs (not MJPG)
    still decode only as opaque frame bytes — MJPEG is the honest
    limit of a stdlib-only runtime."""
    if not is_avi(data):
        raise ValueError("not a RIFF/AVI payload")
    info = {"us_per_frame": 0, "n_frames": 0, "width": 0, "height": 0}
    frames: list[bytes] = []
    for fourcc, pos, size in _riff_chunks(data, 12, len(data)):
        if fourcc != b"LIST":
            continue
        list_type = data[pos : pos + 4]
        if list_type == b"hdrl":
            for sub, spos, ssize in _riff_chunks(data, pos + 4, pos + size):
                if sub == b"avih" and ssize >= 40:
                    vals = struct.unpack("<10I", data[spos : spos + 40])
                    info["us_per_frame"] = vals[0]
                    info["n_frames"] = vals[4]
                    info["width"], info["height"] = vals[8], vals[9]
        elif list_type == b"movi":
            for sub, spos, ssize in _riff_chunks(data, pos + 4, pos + size):
                # 00dc/00db = stream-0 compressed/uncompressed video
                # (stream 0 ONLY — a multi-stream AVI's 01dc/02dc
                # packets would otherwise interleave foreign frames
                # into the index)
                if sub[2:4] in (b"dc", b"db") and sub[:2] == b"00":
                    frames.append(data[spos : spos + ssize])
    if not info["n_frames"]:
        info["n_frames"] = len(frames)
    return {**info, "frames": frames}


# --------------------------------------------------------------- GIF
# Real GIF87a/89a codec: LZW with growing code sizes (LSB-first bit
# packing, clear/end codes, 12-bit cap, KwKwK case), sub-block
# framing, global color table, multi-frame animation with Graphic
# Control Extension delays. Decoder conformance evidence
# (tests/test_codecs.py): round trip through the dictionary encoder
# on data forcing several code-size bumps AND a dictionary reset, and
# cross-decode of an independent literal-code encoder (the documented
# "uncompressed GIF" technique — trivially spec-correct), so the bit
# unpacker, clear handling and size schedule are checked against two
# different spec-conformant producers.


def is_gif(data: bytes) -> bool:
    return data[:6] in (b"GIF87a", b"GIF89a")


def _lzw_encode_scalar(data: bytes, mcs: int) -> bytes:
    """GIF-variant LZW: emits clear first, grows code width after the
    code that fills the current width, resets at 4096 entries.

    Reference implementation (byte-string table, per-code bit emit) —
    kept as the bit-identity oracle for the production
    :func:`_lzw_encode` (r8 vectorization, VERDICT r7 task 3)."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    bitbuf = nbits = 0

    def emit(code: int, size: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf |= code << nbits
        nbits += size
        while nbits >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            nbits -= 8

    def fresh():
        return {bytes([i]): i for i in range(clear)}, end + 1, mcs + 1

    table, nxt, size = fresh()
    emit(clear, size)
    w = b""
    for byte in data:
        k = bytes([byte])
        if w + k in table:
            w += k
            continue
        emit(table[w], size)
        if nxt < 4096:
            table[w + k] = nxt
            nxt += 1
            if nxt == (1 << size) + 1 and size < 12:
                size += 1
        else:
            emit(clear, size)
            table, nxt, size = fresh()
        w = k
    if w:
        emit(table[w], size)
    emit(end, size)
    if nbits:
        out.append(bitbuf & 0xFF)
    return bytes(out)


def _lzw_encode_literal(data: bytes, mcs: int) -> bytes:
    """Independent minimal encoder: every byte as a literal root code
    with a clear before each one, so the dictionary never grows and
    the code width stays mcs+1 — the classic "uncompressed GIF"
    stream. Spec-correct by construction; exists to cross-validate
    the decoder against a second producer."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    bitbuf = nbits = 0
    size = mcs + 1

    def emit(code: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf |= code << nbits
        nbits += size
        while nbits >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            nbits -= 8

    emit(clear)
    for byte in data:
        emit(byte)
        emit(clear)  # keep the decoder's table permanently fresh
    emit(end)
    if nbits:
        out.append(bitbuf & 0xFF)
    return bytes(out)


def _lzw_encode(data: bytes, mcs: int) -> bytes:
    """Production LZW encoder — bit-identical to
    :func:`_lzw_encode_scalar` (property-tested), restructured for
    throughput (r8, VERDICT r7 task 3: the pure-Python per-byte loop
    was the bench's biggest single line at ~290 docs/s):

    - the dictionary is keyed by the integer ``(prefix_code << 8) |
      byte`` instead of growing byte strings — same strings, same
      insertion order, same codes, no per-step allocation/hash of an
      O(len) key;
    - codes are collected and bit-packed in ONE vectorized pass:
      absolute bit offsets via cumsum, each ≤19-bit shifted value
      scattered into its ≤3 output bytes with ``np.bitwise_or.at``
      (disjoint bit ranges ⇒ OR-accumulation is exact).

    Measured ~3× on the GIF thumbnail workload with byte-identical
    output (tests/test_codecs.py)."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    codes: list[int] = [clear]
    sizes: list[int] = [mcs + 1]
    ap_c, ap_s = codes.append, sizes.append
    table: dict[int, int] = {}
    get = table.get
    nxt = end + 1
    size = mcs + 1
    n = len(data)
    if n:
        w = data[0]
        for i in range(1, n):
            k = data[i]
            key = (w << 8) | k
            e = get(key)
            if e is not None:
                w = e
                continue
            ap_c(w)
            ap_s(size)
            if nxt < 4096:
                table[key] = nxt
                nxt += 1
                if nxt == (1 << size) + 1 and size < 12:
                    size += 1
            else:
                ap_c(clear)
                ap_s(size)
                table = {}
                get = table.get
                nxt = end + 1
                size = mcs + 1
            w = k
        ap_c(w)
        ap_s(size)
    ap_c(end)
    ap_s(size)
    c = np.asarray(codes, dtype=np.uint32)
    s = np.asarray(sizes, dtype=np.int64)
    ends = np.cumsum(s)
    off = ends - s
    total = int(ends[-1])
    nbytes = (total + 7) >> 3
    out = np.zeros(nbytes + 3, dtype=np.uint8)
    v = c << (off & 7).astype(np.uint32)
    bpos = off >> 3
    for j in range(3):
        np.bitwise_or.at(
            out, bpos + j, ((v >> (8 * j)) & 0xFF).astype(np.uint8)
        )
    return out[:nbytes].tobytes()


_DECODE_WIDTHS: dict[int, "np.ndarray"] = {}


def _decode_width_schedule(mcs: int) -> "np.ndarray":
    """Code-width by in-segment index for the decoder: after a clear,
    width starts at mcs+1 and grows deterministically with the table
    fill count (one add per code after the first, capped at 4096) —
    so the widths of a whole clear-to-clear segment are known up
    front and the bit unpack vectorizes."""
    sched = _DECODE_WIDTHS.get(mcs)
    if sched is None:
        end = (1 << mcs) + 1
        size = mcs + 1
        nxt = end + 1
        widths = [size]  # first code after clear: no table add
        for _ in range(1, 4096 - end + 64):
            widths.append(size)
            if nxt < 4096:
                nxt += 1
                if nxt == (1 << size) and size < 12:
                    size += 1
        sched = np.asarray(widths, dtype=np.int64)
        _DECODE_WIDTHS[mcs] = sched
    return sched


def _lzw_decode(data: bytes, mcs: int) -> bytes:
    """Production LZW decoder — bit-identical results to
    :func:`_lzw_decode_scalar` (property-tested). The per-code bit
    reads vectorize because the width schedule within a clear-to-
    clear segment is deterministic (:func:`_decode_width_schedule`):
    a whole chunk of code offsets comes from one cumsum, each code
    from a 3-byte little-endian gather + shift + mask; the chunk is
    cut at the first clear/end/underrun and the dictionary expansion
    runs list-indexed over int codes."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    buf = np.frombuffer(data + b"\x00\x00\x00", dtype=np.uint8)
    total_bits = len(data) * 8
    sched = _decode_width_schedule(mcs)
    out_parts: list[bytes] = []
    table: list[bytes | None] = [bytes([i]) for i in range(clear)]
    table += [None, None]  # clear/end slots keep list index == code
    prev: bytes | None = None
    bit = 0
    j = 0  # in-segment code index
    CHUNK = 512
    while True:
        widths = sched[j : j + CHUNK]
        if len(widths) == 0:  # table full: width pinned at 12
            widths = np.full(CHUNK, 12, dtype=np.int64)
        m = len(widths)
        ends_ = bit + np.cumsum(widths)
        offs = ends_ - widths
        valid = int(np.searchsorted(ends_, total_bits, side="right"))
        if valid == 0:
            break  # underrun: truncated stream behaves as end
        offs = offs[:valid]
        widths = widths[:valid]
        bpos = offs >> 3
        w32 = (
            buf[bpos].astype(np.uint32)
            | (buf[bpos + 1].astype(np.uint32) << 8)
            | (buf[bpos + 2].astype(np.uint32) << 16)
        )
        cs = (w32 >> (offs & 7).astype(np.uint32)) & (
            (np.uint32(1) << widths.astype(np.uint32)) - np.uint32(1)
        )
        stop = np.flatnonzero((cs == clear) | (cs == end))
        cut = int(stop[0]) if len(stop) else valid
        for code in cs[:cut].tolist():
            ln = len(table)
            if code < ln and (entry := table[code]) is not None:
                if prev is not None and ln < 4096:
                    table.append(prev + entry[:1])
            elif code == ln and prev is not None and ln < 4096:
                entry = prev + prev[:1]  # KwKwK
                table.append(entry)
            else:
                raise ValueError(f"corrupt LZW stream: code {code} > {ln}")
            out_parts.append(entry)
            prev = entry
        j += cut
        if cut < valid:  # hit clear or end inside the chunk
            code = int(cs[cut])
            bit = int(offs[cut] + widths[cut])
            if code == end:
                break
            table = [bytes([i]) for i in range(clear)]
            table += [None, None]
            prev = None
            j = 0
        else:
            bit = int(ends_[valid - 1])
            if valid < m:
                break  # ran off the end of the data: treat as end
    return b"".join(out_parts)


def _lzw_decode_scalar(data: bytes, mcs: int) -> bytes:
    clear, end = 1 << mcs, (1 << mcs) + 1
    size = mcs + 1
    pos = bitbuf = nbits = 0
    out = bytearray()

    def read() -> int:
        nonlocal pos, bitbuf, nbits
        while nbits < size:
            if pos >= len(data):
                return end  # truncated stream: treat as end
            bitbuf |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = bitbuf & ((1 << size) - 1)
        bitbuf >>= size
        nbits -= size
        return code

    def fresh():
        return {i: bytes([i]) for i in range(clear)}, end + 1

    table, nxt = fresh()
    prev: bytes | None = None
    while True:
        code = read()
        if code == clear:
            table, nxt = fresh()
            size = mcs + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            entry = table[code]
        else:
            if code in table:
                entry = table[code]
            elif code == nxt:
                entry = prev + prev[:1]  # KwKwK
            else:
                raise ValueError(f"corrupt LZW stream: code {code} > {nxt}")
            if nxt < 4096:
                table[nxt] = prev + entry[:1]
                nxt += 1
                if nxt == (1 << size) and size < 12:
                    size += 1
        out += entry
        prev = entry
    return bytes(out)


def _sub_blocks(payload: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(payload), 255):
        chunk = payload[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def gif_encode(
    frames: list[np.ndarray],
    palette: np.ndarray | None = None,
    delay_cs: int = 10,
) -> bytes:
    """Encode uint8 index frames (all same h×w) as an animated GIF89a
    with one global 256-color table (default: grayscale identity) and
    a per-frame Graphic Control Extension delay."""
    if palette is None:
        g = np.arange(256, dtype=np.uint8)
        palette = np.stack([g, g, g], axis=1)
    if palette.shape != (256, 3):
        raise ValueError("palette must be (256, 3)")
    h, w = frames[0].shape
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out.append(0b1_111_0_111)  # global table, 8-bit color, 256 entries
    out += b"\x00\x00"  # background index, aspect
    out += palette.astype(np.uint8).tobytes()
    # Netscape loop extension (animate forever) — the standard marker
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for fr in frames:
        if fr.shape != (h, w):
            raise ValueError("all frames must share dimensions")
        out += b"\x21\xf9\x04\x00" + struct.pack("<H", delay_cs) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        mcs = 8
        out.append(mcs)
        out += _sub_blocks(_lzw_encode(fr.astype(np.uint8).tobytes(), mcs))
    out.append(0x3B)
    return bytes(out)


def gif_decode(data: bytes) -> dict:
    """Parse a GIF into {width, height, palette (256,3) | None,
    delays_cs: [int], frames: [h×w uint8 index arrays]}. Handles
    87a/89a, global color table, GCE delays, extension skipping and
    sub-block reassembly; interlace and local color tables are out of
    scope for the synthetic pipeline and raise cleanly."""
    if not is_gif(data):
        raise ValueError("not a GIF")
    w, h = struct.unpack_from("<HH", data, 6)
    packed = data[10]
    pos = 13
    palette = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        palette = (
            np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8)
            .reshape(n, 3)
            .copy()
        )
        pos += 3 * n
    frames: list[np.ndarray] = []
    delays: list[int] = []
    delay = 0
    while pos < len(data):
        b = data[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            label = data[pos + 1]
            pos += 2
            if label == 0xF9:  # graphic control
                blk = data[pos + 1 : pos + 1 + data[pos]]
                delay = struct.unpack_from("<H", blk, 1)[0]
            while data[pos]:  # skip/consume sub-blocks
                pos += 1 + data[pos]
            pos += 1
            continue
        if b == 0x2C:  # image descriptor
            left, top, fw, fh = struct.unpack_from("<HHHH", data, pos + 1)
            fpacked = data[pos + 9]
            pos += 10
            if fpacked & 0x80:
                raise NotImplementedError("local color tables unsupported")
            if fpacked & 0x40:
                raise NotImplementedError("interlaced GIF unsupported")
            if (left, top, fw, fh) != (0, 0, w, h):
                raise NotImplementedError("partial-frame GIF unsupported")
            mcs = data[pos]
            pos += 1
            payload = bytearray()
            while data[pos]:
                n = data[pos]
                payload += data[pos + 1 : pos + 1 + n]
                pos += 1 + n
            pos += 1
            idx = np.frombuffer(
                _lzw_decode(bytes(payload), mcs)[: fw * fh], dtype=np.uint8
            ).reshape(fh, fw)
            frames.append(idx.copy())
            delays.append(delay)
            continue
        raise ValueError(f"unexpected GIF block 0x{b:02x} at {pos}")
    return {
        "width": w,
        "height": h,
        "palette": palette,
        "delays_cs": delays,
        "frames": frames,
    }
