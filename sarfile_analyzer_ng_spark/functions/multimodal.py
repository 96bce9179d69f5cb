"""Image codecs and perceptual hashes for ``binary`` media payloads.

Every decoder here is pure python + numpy, no codec library: binary
netpbm, PNG (stdlib zlib + scanline unfilters), uncompressed 24-bit
BMP, GIF (pure-python LZW), and baseline AND progressive JPEG
(pure-python huffman + numpy dequant/IDCT; spectral selection,
successive approximation, EOB runs). Each returns the image's
luminance plane; :func:`image_phash` hashes it in one Arrow-batched
``mapInPandas`` stage and :func:`phash_dup_pairs` pairs the hashes.
Arithmetic-coded JPEG and every non-image codec raise a documented
``NotImplementedError``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import worker_task

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def decode_luminance(payload: bytes):
    """Full-resolution luminance plane ``(width, height, lum[h, w])``
    in [0, 1] for any supported image payload — the shared input of
    :func:`image_phash`. Dispatches on the magic bytes to the real
    decoders:

    - binary PPM/PGM (header parse + numpy),
    - PNG (stdlib zlib inflate + the five scanline unfilters),
    - uncompressed 24-bit BMP (struct + numpy),
    - GIF (pure-python LZW + palette map, incl. interlace),
    - baseline + progressive JPEG (pure-python huffman + numpy
      dequant/IDCT).

    Corrupt payloads and WAV audio (a payload, but not an image)
    raise ValueError; other formats raise NotImplementedError (their
    codecs do not ship here)."""
    if payload[:2] in (b"P6", b"P5"):
        return decode_ppm(payload)
    if payload[: len(PNG_MAGIC)] == PNG_MAGIC:
        return decode_png(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        raise ValueError("decode_luminance: payload is not an image")
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(payload)
    if payload[:2] == b"\xff\xd8":
        return decode_jpeg(payload)
    raise NotImplementedError(
        "lossy-audio/compressed-video decoding requires codec "
        "libraries not present in this environment; PPM/PGM, PNG, "
        "BMP, GIF and JPEG (baseline + progressive) decode natively"
    )


def _ppm_header(payload: bytes):
    """Parse a binary netpbm header: magic, comments,
    width/height/maxval. Returns (magic, width, height, maxval,
    pixel_offset)."""
    magic = payload[:2]
    tokens: list[bytes] = []
    i = 2
    while len(tokens) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":  # comment to end of line
            i = payload.index(b"\n", i) + 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        tokens.append(payload[i:j])
        i = j
    i += 1  # single whitespace after maxval, then raw pixel data
    width, height, maxval = (int(t) for t in tokens)
    return magic, width, height, maxval, i


def decode_ppm(payload: bytes):
    """Real image decode for binary netpbm (P6 RGB / P5 gray) — header
    parse + ``numpy.frombuffer``, no codec library involved. Returns
    (width, height, lum) with the luminance plane in [0, 1]."""
    import numpy as np

    magic, width, height, maxval, i = _ppm_header(payload)
    channels = 3 if magic == b"P6" else 1
    dtype = np.dtype(">u2") if maxval > 255 else np.dtype("u1")
    px = np.frombuffer(
        payload, dtype=dtype, count=width * height * channels, offset=i
    ).reshape(height, width, channels)
    lum = px.astype(np.float64).mean(axis=2) / maxval
    return width, height, lum


_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(raw: bytes, pos: int, height: int, stride: int,
                  channels: int):
    """Undo the five RFC 2083 §6 scanline filters for one (sub-)image
    of ``height`` rows × ``stride`` bytes starting at ``pos`` in the
    inflated stream. Returns ``(rows uint8[height, stride], new_pos)``.
    Per-row python loop for the sequential filters (Sub/Average/Paeth
    are defined recurrences) — fine for thumbnail-scale hashing."""
    import numpy as np

    out = np.zeros((height, stride), dtype=np.uint8)
    for y in range(height):
        ftype = raw[pos]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride,
                             offset=pos + 1).astype(np.int32)
        pos += stride + 1
        up = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        if ftype == 0:      # None
            cur = line
        elif ftype == 2:    # Up
            cur = (line + up) % 256
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth: recurrences
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = cur[x - channels] if x >= channels else 0
                if ftype == 1:
                    cur[x] = (line[x] + a) % 256
                elif ftype == 3:
                    cur[x] = (line[x] + (a + up[x]) // 2) % 256
                else:
                    b = up[x]
                    c = up[x - channels] if x >= channels else 0
                    pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    cur[x] = (line[x] + pred) % 256
        else:
            raise ValueError(f"decode_png: bad filter type {ftype}")
        out[y] = cur.astype(np.uint8)
    return out, pos


def decode_png(payload: bytes):
    """Real PNG decode with NOTHING beyond the standard library +
    numpy: chunk walk → concatenated-IDAT ``zlib.decompress`` → the
    five scanline unfilters (None/Sub/Up/Average/Paeth, RFC 2083 §6)
    → luminance plane. Supports the
    8-bit color types (gray 0, RGB 2, gray+alpha 4, RGBA 6 — alpha
    ignored for luminance), sequential AND Adam7-interlaced (the
    seven sub-images unfilter independently, each against its own
    scanline neighbors, then scatter back to the full grid — common
    in old screenshots); palette / 16-bit raise a clear
    NotImplementedError."""
    import struct
    import zlib

    import numpy as np

    i = len(PNG_MAGIC)
    width = height = None
    bit_depth = color_type = interlace = None
    idat = b""
    while i + 8 <= len(payload):
        (length,), ctype = struct.unpack(">I", payload[i:i + 4]), payload[i + 4:i + 8]
        data = payload[i + 8:i + 8 + length]
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _, _, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        i += 12 + length  # length + type + data + crc
    if width is None or not idat:
        raise ValueError("decode_png: missing IHDR or IDAT")
    if bit_depth != 8 or color_type not in (0, 2, 4, 6) or interlace not in (0, 1):
        raise NotImplementedError(
            f"decode_png: bit_depth={bit_depth} color_type={color_type} "
            f"interlace={interlace} not supported (8-bit "
            "gray/RGB/gray+alpha/RGBA, sequential or Adam7 only)"
        )
    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    if interlace == 0:
        stride = width * channels
        expected = height * (stride + 1)
        # bounded inflate: a corrupt/hostile IDAT that would blow up to
        # gigabytes must not OOM the executor before the size check
        # runs — cap the output at exactly the promised pixel bytes
        raw = zlib.decompressobj().decompress(idat, expected)
        if len(raw) < expected:
            raise ValueError("decode_png: truncated pixel data")
        out, _ = _png_unfilter(raw, 0, height, stride, channels)
        px = out.reshape(height, width, channels)
    else:  # Adam7: seven independently-filtered reduced images
        dims = []
        expected = 0
        for xs, ys, xst, yst in _ADAM7:
            pw = max(0, -(-(width - xs) // xst)) if width > xs else 0
            ph = max(0, -(-(height - ys) // yst)) if height > ys else 0
            if pw == 0 or ph == 0:
                pw = ph = 0  # empty pass emits no scanlines at all
            dims.append((pw, ph))
            expected += ph * (pw * channels + 1)
        raw = zlib.decompressobj().decompress(idat, expected)
        if len(raw) < expected:
            raise ValueError("decode_png: truncated pixel data")
        px = np.zeros((height, width, channels), dtype=np.uint8)
        pos = 0
        for (xs, ys, xst, yst), (pw, ph) in zip(_ADAM7, dims):
            if pw == 0:
                continue
            sub, pos = _png_unfilter(raw, pos, ph, pw * channels, channels)
            px[ys::yst, xs::xst, :] = sub.reshape(ph, pw, channels)
    color = px[:, :, :3] if color_type in (2, 6) else px[:, :, :1]
    lum = color.astype(np.float64).mean(axis=2) / 255.0
    return width, height, lum


def decode_bmp(payload: bytes):
    """Real BMP decode (uncompressed 24-bit BITMAPINFOHEADER, the
    overwhelmingly common dump format): pure struct + numpy — BGR
    rows, 4-byte-aligned, bottom-up unless height is negative. Other
    bit depths / BI_RLE compression raise a clear
    NotImplementedError."""
    import struct

    import numpy as np

    if len(payload) < 54:
        raise ValueError("decode_bmp: truncated header")
    data_off = struct.unpack("<I", payload[10:14])[0]
    width, height = struct.unpack("<ii", payload[18:26])
    bpp = struct.unpack("<H", payload[28:30])[0]
    compression = struct.unpack("<I", payload[30:34])[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"decode_bmp: bpp={bpp} compression={compression} not "
            "supported (uncompressed 24-bit only)"
        )
    bottom_up = height > 0
    height = abs(height)
    stride = (width * 3 + 3) & ~3  # rows pad to 4 bytes
    if len(payload) < data_off + stride * height:
        raise ValueError("decode_bmp: truncated pixel data")
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * height, offset=data_off
    ).reshape(height, stride)[:, : width * 3].reshape(height, width, 3)
    if bottom_up:
        rows = rows[::-1]
    # BGR order; channel order is irrelevant to mean luminance
    lum = rows.astype(np.float64).mean(axis=2) / 255.0
    return width, height, lum


def _dct_matrix():
    """The orthonormal 8×8 DCT-II basis (C @ block @ C.T = forward,
    C.T @ coef @ C = inverse) — shared by the JPEG decoder and the
    test encoder."""
    import numpy as np

    x = np.arange(8)
    c = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16)
    c *= np.sqrt(2.0 / 8.0)
    c[0] /= np.sqrt(2.0)
    return c


# zigzag scan order: ZIGZAG[k] = (row, col) of the k-th coefficient
def _zigzag_order():
    # canonical JPEG order: odd diagonals run top-right → bottom-left
    # (row ascending), even diagonals the reverse
    order = sorted(
        ((r, c) for r in range(8) for c in range(8)),
        key=lambda rc: (rc[0] + rc[1],
                        rc[0] if (rc[0] + rc[1]) % 2 else rc[1]),
    )
    return order


ZIGZAG = _zigzag_order()


def _zigzag_idx():
    import numpy as np

    r = np.array([rc[0] for rc in ZIGZAG])
    c = np.array([rc[1] for rc in ZIGZAG])
    return r, c


def _render_block(coef64, q, dctm, zr, zc):
    """Dequantize + dezigzag + IDCT one 8×8 block — the ONE pixel
    renderer shared by the baseline scan and the progressive finish,
    so level shift/crop conventions cannot drift."""
    import numpy as np

    block = np.zeros((8, 8))
    block[zr, zc] = coef64
    block *= q
    return dctm.T @ block @ dctm + 128.0


class _BitReader:
    """MSB-first reader over entropy-coded JPEG data with 0xFF00
    unstuffing and restart-marker awareness."""

    def __init__(self, data: bytes, start: int):
        self.data = data
        self.i = start
        self.acc = 0
        self.n = 0

    def _fill(self):
        d, i = self.data, self.i
        if i >= len(d):
            raise ValueError("decode_jpeg: truncated entropy data")
        b = d[i]
        if b == 0xFF:
            nxt = d[i + 1] if i + 1 < len(d) else None
            if nxt == 0x00:
                self.i = i + 2          # stuffed 0xFF
            elif nxt is not None and 0xD0 <= nxt <= 0xD7:
                raise _RestartMarker()  # caller realigns + resets DC
            else:
                raise ValueError("decode_jpeg: truncated entropy data")
        else:
            self.i = i + 1
        self.acc = (self.acc << 8) | b
        self.n += 8
        # trim consumed high bits: without this the accumulator grows
        # into a multi-megabit int and every operation copies it
        # (measured 15x slowdown on a 236 KB image)
        self.acc &= (1 << self.n) - 1

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        while self.n < k:
            self._fill()
        self.n -= k
        return (self.acc >> self.n) & ((1 << k) - 1)

    def peek16(self) -> tuple[int, int]:
        """Up to 16 lookahead bits (left-aligned) without consuming;
        returns (bits, available). Stops at markers/stream end."""
        while self.n < 16:
            try:
                self._fill()
            except (ValueError, _RestartMarker):
                break
        have = min(self.n, 16)
        return ((self.acc >> (self.n - have)) & ((1 << have) - 1),
                have)

    def skip(self, k: int) -> None:
        self.n -= k

    def sync_restart(self):
        """Skip to just past the next RSTn marker, byte-aligned."""
        self.acc = self.n = 0
        d = self.data
        while self.i + 1 < len(d):
            if d[self.i] == 0xFF and 0xD0 <= d[self.i + 1] <= 0xD7:
                self.i += 2
                return
            self.i += 1
        raise ValueError("decode_jpeg: lost restart marker")


class _RestartMarker(Exception):
    pass


def _huff_fast(table: dict) -> dict:
    """16-bit-peek lookup: every (length, code) expands to its 2^(16-l)
    left-aligned prefixes → (symbol, length). Built lazily once per
    table (cached under the reserved key) — turns the per-bit python
    loop into one dict hit per symbol, a ~20× hot-path win on real
    multi-thousand-block images."""
    fast = {}
    for (length, code), sym in table.items():
        base = code << (16 - length)
        for fill in range(1 << (16 - length)):
            fast[base | fill] = (sym, length)
    return fast


def _huff_decode(reader: _BitReader, table: dict) -> int:
    fast = table.get("fast")
    if fast is None:
        fast = table["fast"] = _huff_fast(
            {k: v for k, v in table.items() if isinstance(k, tuple)}
        )
    bits, have = reader.peek16()
    if have == 16:
        hit = fast.get(bits)
        if hit is not None:
            reader.skip(hit[1])
            return hit[0]
        raise ValueError("decode_jpeg: invalid huffman code")
    # tail of the stream: fall back to the per-bit walk
    code, length = 0, 0
    while length < 17:
        code = (code << 1) | reader.bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("decode_jpeg: invalid huffman code")


def _extend(v: int, t: int) -> int:
    """JPEG magnitude decode: t-bit value v → signed coefficient."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(payload: bytes):
    """REAL baseline JPEG decode in pure python + numpy — huffman
    entropy decode (tables from the file's own DHT segments), dequant
    (DQT), dezigzag, orthonormal 8×8 IDCT, restart markers, arbitrary
    per-component sampling factors (4:4:4, 4:2:0, grayscale, ...).
    Only the luminance plane is inverse-transformed (chroma blocks are
    entropy-decoded solely to advance the stream). Progressive (SOF2)
    scans accumulate in :class:`_ProgressiveState`; arithmetic-coded
    JPEGs raise NotImplementedError; corrupt streams raise
    ValueError."""
    import struct

    import numpy as np

    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}   # (class 0=DC/1=AC, id)
    frame = None
    progressive = False
    prog = None  # progressive luminance coefficient store
    restart_interval = 0
    i = 2
    while i + 4 <= len(payload):
        if payload[i] != 0xFF:
            raise ValueError("decode_jpeg: bad marker alignment")
        if payload[i + 1] == 0xFF:  # T.81 B.1.1.2: fill bytes are legal
            i += 1
            continue
        marker = payload[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xD9:  # EOI before scan
            break
        (seglen,) = struct.unpack(">H", payload[i + 2:i + 4])
        seg = payload[i + 4:i + 2 + seglen]
        if marker == 0xDB:  # DQT (possibly several tables)
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0x0F
                j += 1
                if pq:
                    vals = np.frombuffer(seg, ">u2", 64, j).astype(np.float64)
                    j += 128
                else:
                    vals = np.frombuffer(seg, np.uint8, 64, j).astype(np.float64)
                    j += 64
                q = np.zeros((8, 8))
                for k, (r, c) in enumerate(ZIGZAG):
                    q[r, c] = vals[k]
                qt[tq] = q
        elif marker == 0xC4:  # DHT (possibly several tables)
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0x0F
                counts = list(seg[j + 1:j + 17])
                j += 17
                table, code = {}, 0
                for length in range(1, 17):
                    for _ in range(counts[length - 1]):
                        table[(length, code)] = seg[j]
                        j += 1
                        code += 1
                    code <<= 1
                huff[(tc, th)] = table
        elif marker in (0xC0, 0xC1, 0xC2):  # baseline / progressive DCT
            progressive = marker == 0xC2
            precision, h, w, n_comp = struct.unpack(">BHHB", seg[:6])
            if precision != 8:
                raise NotImplementedError("decode_jpeg: 8-bit only")
            comps = []
            for c in range(n_comp):
                cid, hv, tq = seg[6 + 3 * c:9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F,
                              "tq": tq})
            frame = (w, h, comps)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "decode_jpeg: only huffman DCT JPEG (SOF0/1/2)"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("decode_jpeg: SOS before SOF")
            ns = seg[0]
            scan = []
            for c in range(ns):
                cs, tables = seg[1 + 2 * c], seg[2 + 2 * c]
                scan.append((cs, tables >> 4, tables & 0x0F))
            if not progressive:
                return _jpeg_scan(
                    payload, i + 2 + seglen, frame, scan, qt, huff,
                    restart_interval,
                )
            ss, se, ahal = seg[1 + 2 * ns:4 + 2 * ns]
            if prog is None:
                prog = _ProgressiveState(frame)
            i = prog.scan(
                payload, i + 2 + seglen, scan, huff,
                ss, se, ahal >> 4, ahal & 0x0F, restart_interval,
            )
            continue
        i += 2 + seglen
    if progressive and prog is not None:
        return prog.finish(qt)
    raise ValueError("decode_jpeg: no scan data")


def _jpeg_scan(payload, start, frame, scan, qt, huff, restart_interval):
    import numpy as np

    w, h, comps = frame
    by_id = {c["id"]: c for c in comps}
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    dctm = _dct_matrix()
    zr, zc = _zigzag_idx()

    y_comp = scan[0][0]  # first scan component is luminance
    yc = by_id[y_comp]
    # component resolution (T.81 A.1.1): ceil(dim * factor / max)
    cw = -(-w * yc["h"] // hmax)
    ch = -(-h * yc["v"] // vmax)
    if len(scan) == 1:
        # NON-interleaved scan (T.81 A.2.2): one 8x8 block per "MCU",
        # raster over the component's own block grid — sampling
        # factors do NOT shape the scan order
        mcux, mcuy = -(-cw // 8), -(-ch // 8)
        eff = {y_comp: (1, 1)}
    else:
        mcux = -(-w // (8 * hmax))
        mcuy = -(-h // (8 * vmax))
        eff = {cs: (by_id[cs]["h"], by_id[cs]["v"]) for cs, _, _ in scan}
    yw, yh = mcux * eff[y_comp][0] * 8, mcuy * eff[y_comp][1] * 8
    yplane = np.zeros((yh, yw))

    reader = _BitReader(payload, start)
    dc_pred = {cs: 0 for cs, _, _ in scan}
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and                     mcu_count % restart_interval == 0:
                reader.sync_restart()
                dc_pred = {cs: 0 for cs in dc_pred}
            mcu_count += 1
            try:
                for cs, td, ta in scan:
                    comp = by_id[cs]
                    e_h, e_v = eff[cs]
                    for bv in range(e_v):
                        for bh in range(e_h):
                            coef = np.zeros(64)
                            t = _huff_decode(reader, huff[(0, td)])
                            dc_pred[cs] += _extend(reader.bits(t), t)
                            coef[0] = dc_pred[cs]
                            k = 1
                            while k < 64:
                                rs = _huff_decode(reader, huff[(1, ta)])
                                r, sz = rs >> 4, rs & 0x0F
                                if rs == 0x00:  # EOB
                                    break
                                if rs == 0xF0:  # ZRL
                                    k += 16
                                    continue
                                k += r
                                if k > 63:
                                    raise ValueError(
                                        "decode_jpeg: AC index overflow"
                                    )
                                coef[k] = _extend(reader.bits(sz), sz)
                                k += 1
                            if cs != y_comp:
                                continue  # chroma: stream advance only
                            px = _render_block(
                                coef, qt[comp["tq"]], dctm, zr, zc
                            )
                            y0 = (my * e_v + bv) * 8
                            x0 = (mx * e_h + bh) * 8
                            yplane[y0:y0 + 8, x0:x0 + 8] = px
            except _RestartMarker:
                raise ValueError(
                    "decode_jpeg: unexpected restart marker"
                )
    # crop the luminance plane to the component geometry
    lum = np.clip(yplane[:ch, :cw], 0, 255) / 255.0
    return w, h, lum


def _next_marker(payload: bytes, j: int) -> int:
    """Position of the next real marker (skips stuffed 0xFF00 and
    RSTn) — how a progressive decoder finds the end of entropy data
    for scans it skips or finishes."""
    while j + 1 < len(payload):
        if payload[j] == 0xFF and payload[j + 1] != 0x00 \
                and not (0xD0 <= payload[j + 1] <= 0xD7):
            return j
        j += 1
    return len(payload)


class _ProgressiveState:
    """Progressive-JPEG (SOF2) coefficient accumulator for the
    LUMINANCE component: DC/AC first scans (spectral selection, point
    transform) and DC/AC refinement scans (successive approximation,
    EOB runs, correction bits — T.81 G.1.2). Scans that carry no
    luminance are skipped wholesale (each ns=1 scan's entropy data is
    self-contained), which is also why only the luminance store
    exists. ``finish`` dequantizes + IDCTs once, after all scans."""

    def __init__(self, frame):
        import numpy as np

        w, h, comps = frame
        self.frame = frame
        self.by_id = {c["id"]: c for c in comps}
        self.hmax = max(c["h"] for c in comps)
        self.vmax = max(c["v"] for c in comps)
        self.y_id = comps[0]["id"]
        yc = comps[0]
        self.cw = -(-w * yc["h"] // self.hmax)
        self.ch = -(-h * yc["v"] // self.vmax)
        # padded-to-MCU block grid covers both interleaved DC scans
        # and non-interleaved rasters
        self.mcux = -(-w // (8 * self.hmax))
        self.mcuy = -(-h // (8 * self.vmax))
        self.bw = self.mcux * yc["h"]
        self.bh = self.mcuy * yc["v"]
        self.coef = np.zeros((self.bh, self.bw, 64), dtype=np.int64)

    def scan(self, payload, start, scan, huff, ss, se, ah, al, ri):
        y_in_scan = any(cs == self.y_id for cs, _, _ in scan)
        if not y_in_scan:
            return _next_marker(payload, start)
        if (ss == 0) != (se == 0) or se > 63 or ss > 63:
            # T.81 G.1.1.1: a DC scan is exactly Ss=Se=0 — a baseline
            # scan header (Ss=0, Se=63) behind an SOF2 marker is
            # corrupt, not progressive
            raise ValueError("decode_jpeg: invalid progressive scan script")
        reader = _BitReader(payload, start)
        try:
            if ss == 0:
                self._dc_scan(reader, scan, huff, ah, al, ri)
            else:
                cs, _, ta = scan[0]
                if len(scan) != 1:
                    raise ValueError("decode_jpeg: interleaved AC scan")
                if ah == 0:
                    self._ac_first(reader, huff[(1, ta)], ss, se, al, ri)
                else:
                    self._ac_refine(reader, huff[(1, ta)], ss, se, al, ri)
        except _RestartMarker:
            # a mid-symbol RSTn means the stream is desynced — surface
            # the documented corrupt-stream error type
            raise ValueError("decode_jpeg: unexpected restart marker")
        return _next_marker(payload, reader.i)

    # -- DC scans ------------------------------------------------------
    def _dc_scan(self, reader, scan, huff, ah, al, ri):
        interleaved = len(scan) > 1
        dc_pred = {cs: 0 for cs, _, _ in scan}
        mcu_count = 0
        if interleaved:
            grid = [(my, mx) for my in range(self.mcuy)
                    for mx in range(self.mcux)]
        else:
            # non-interleaved: one block per MCU over the component's
            # own raster (T.81 A.2.2)
            bx = -(-self.cw // 8)
            by = -(-self.ch // 8)
            grid = [(my, mx) for my in range(by) for mx in range(bx)]
        for my, mx in grid:
            if ri and mcu_count and mcu_count % ri == 0:
                reader.sync_restart()
                dc_pred = {cs: 0 for cs in dc_pred}
            mcu_count += 1
            for cs, td, _ in scan:
                comp = self.by_id[cs]
                reps = (comp["v"], comp["h"]) if interleaved else (1, 1)
                for bv in range(reps[0]):
                    for bh_ in range(reps[1]):
                        if ah == 0:
                            t = _huff_decode(reader, huff[(0, td)])
                            dc_pred[cs] += _extend(reader.bits(t), t)
                            val = dc_pred[cs] << al
                            write = val
                        else:
                            bit = reader.bit()
                            write = None if not bit else (1 << al)
                        if cs != self.y_id:
                            continue
                        if interleaved:
                            row = my * comp["v"] + bv
                            col = mx * comp["h"] + bh_
                        else:
                            row, col = my, mx
                        if ah == 0:
                            self.coef[row, col, 0] = write
                        elif write:
                            self.coef[row, col, 0] |= write

    # -- AC scans (always single-component) ----------------------------
    def _blocks(self):
        bx = -(-self.cw // 8)
        by = -(-self.ch // 8)
        return [(my, mx) for my in range(by) for mx in range(bx)]

    def _ac_first(self, reader, table, ss, se, al, ri):
        eobrun = 0
        count = 0
        for my, mx in self._blocks():
            if ri and count and count % ri == 0:
                reader.sync_restart()
                eobrun = 0
            count += 1
            if eobrun > 0:
                eobrun -= 1
                continue
            coef = self.coef[my, mx]
            k = ss
            while k <= se:
                rs = _huff_decode(reader, table)
                r, sz = rs >> 4, rs & 0x0F
                if sz == 0:
                    if r == 15:
                        k += 16  # ZRL
                        continue
                    eobrun = (1 << r) + reader.bits(r) - 1
                    break
                k += r
                if k > se:
                    raise ValueError("decode_jpeg: AC index overflow")
                coef[k] = _extend(reader.bits(sz), sz) << al
                k += 1

    def _ac_refine(self, reader, table, ss, se, al, ri):
        p1, m1 = 1 << al, -1 << al
        eobrun = 0
        count = 0

        def correct(coef, k, stop, zeros, newval, consume_stop):
            """Advance k, emitting correction bits at nonzero-history
            coefficients and counting down ``zeros`` zero-history
            skips. T.81/libjpeg bit order: a ZRL segment CONSUMES its
            stopping zero (``consume_stop=True``, 15 skips + stop
            after the 16th), while a new-coefficient segment stops AT
            its zero slot and places the value there."""
            while k <= stop:
                if coef[k]:
                    if reader.bit() and (coef[k] & p1) == 0:
                        coef[k] += p1 if coef[k] > 0 else m1
                else:
                    if zeros == 0:
                        if consume_stop:
                            k += 1
                        break
                    zeros -= 1
                k += 1
            if newval and k <= stop:
                coef[k] = newval
                k += 1
            return k

        for my, mx in self._blocks():
            if ri and count and count % ri == 0:
                reader.sync_restart()
                eobrun = 0
            count += 1
            coef = self.coef[my, mx]
            if eobrun > 0:
                eobrun -= 1
                correct(coef, ss, se, 64, 0, False)  # correction only
                continue
            k = ss
            while k <= se:
                rs = _huff_decode(reader, table)
                r, sz = rs >> 4, rs & 0x0F
                if sz == 0:
                    if r < 15:
                        eobrun = (1 << r) + reader.bits(r) - 1
                        correct(coef, k, se, 64, 0, False)
                        break
                    # ZRL: skip 15 zeros, consume the 16th
                    k = correct(coef, k, se, 15, 0, True)
                else:
                    if sz != 1:
                        raise ValueError(
                            "decode_jpeg: bad refinement magnitude"
                        )
                    newval = p1 if reader.bit() else m1
                    k = correct(coef, k, se, r, newval, False)

    def finish(self, qt):
        import numpy as np

        w, h, comps = self.frame
        yc = comps[0]
        q = qt[yc["tq"]]
        dctm = _dct_matrix()
        zr, zc = _zigzag_idx()
        plane = np.zeros((self.bh * 8, self.bw * 8))
        for my in range(self.bh):
            for mx in range(self.bw):
                plane[my * 8:my * 8 + 8, mx * 8:mx * 8 + 8] = (
                    _render_block(self.coef[my, mx], q, dctm, zr, zc)
                )
        lum = np.clip(plane[: self.ch, : self.cw], 0, 255) / 255.0
        return w, h, lum


def _gif_lzw_decode(min_code: int, data: bytes, expected: int) -> bytes:
    """GIF's variable-width LSB-first LZW (GIF89a spec appendix F) in
    pure python — bounded: decoding stops once ``expected`` pixels are
    produced, so a hostile stream cannot balloon output."""
    clear = 1 << min_code
    eoi = clear + 1
    out = bytearray()

    def fresh():
        return {i: bytes([i]) for i in range(clear)}, min_code + 1, clear + 2

    table, width_bits, next_code = fresh()
    prev = None
    bitpos, total_bits = 0, len(data) * 8
    while bitpos + width_bits <= total_bits and len(out) < expected:
        byte_i = bitpos >> 3
        window = int.from_bytes(data[byte_i:byte_i + 4], "little")
        code = (window >> (bitpos & 7)) & ((1 << width_bits) - 1)
        bitpos += width_bits
        if code == clear:
            table, width_bits, next_code = fresh()
            prev = None
            continue
        if code == eoi:
            break
        if code in table:
            entry = table[code]
        elif code == next_code and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError("decode_gif: corrupt LZW stream")
        out += entry
        if prev is not None and next_code < 4096:
            table[next_code] = prev + entry[:1]
            next_code += 1
            if next_code == (1 << width_bits) and width_bits < 12:
                width_bits += 1
        prev = entry
    if len(out) < expected:
        raise ValueError("decode_gif: truncated pixel data")
    return bytes(out[:expected])


def decode_gif(payload: bytes):
    """Real GIF decode in pure python + numpy: logical screen
    descriptor → color table → first image's LZW-compressed index
    stream → palette-mapped RGB → luminance plane. Handles the
    interlaced row order; animation beyond the first frame is ignored
    (the still-image semantics every thumbnail pipeline wants)."""
    import struct

    import numpy as np

    if len(payload) < 13:
        raise ValueError("decode_gif: truncated header")
    _sw, _sh, packed = struct.unpack("<HHB", payload[6:11])
    i = 13
    gct = None
    if packed & 0x80:
        n = 2 ** ((packed & 0x07) + 1)
        gct = np.frombuffer(payload, np.uint8, 3 * n, i).reshape(n, 3)
        i += 3 * n
    while i < len(payload):
        block = payload[i]
        if block == 0x21:  # extension: label + sub-blocks
            i += 2
            while i < len(payload) and payload[i]:
                i += payload[i] + 1
            i += 1
        elif block == 0x2C:  # image descriptor
            _l, _t, w, h, ipacked = struct.unpack("<HHHHB", payload[i + 1:i + 10])
            i += 10
            table = gct
            if ipacked & 0x80:
                n = 2 ** ((ipacked & 0x07) + 1)
                table = np.frombuffer(payload, np.uint8, 3 * n, i).reshape(n, 3)
                i += 3 * n
            if table is None:
                raise ValueError("decode_gif: no color table")
            min_code = payload[i]
            i += 1
            chunks = []
            while i < len(payload) and payload[i]:
                ln = payload[i]
                chunks.append(payload[i + 1:i + 1 + ln])
                i += ln + 1
            lzw = b"".join(chunks)  # not +=: that is O(N^2) copies
            idx = np.frombuffer(
                _gif_lzw_decode(min_code, lzw, w * h), np.uint8
            ).astype(np.int64)
            if int(idx.max(initial=0)) >= len(table):
                raise ValueError("decode_gif: palette index out of range")
            rows = idx.reshape(h, w)
            if ipacked & 0x40:  # interlaced: 4-pass row order
                order = (list(range(0, h, 8)) + list(range(4, h, 8))
                         + list(range(2, h, 4)) + list(range(1, h, 2)))
                deinterlaced = np.empty_like(rows)
                deinterlaced[order] = rows
                rows = deinterlaced
            rgb = table[rows]
            lum = rgb.astype(np.float64).mean(axis=2) / 255.0
            return w, h, lum
        elif block == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"decode_gif: unexpected block 0x{block:02x}")
    raise ValueError("decode_gif: no image descriptor")


def _phash64(lum) -> int:
    """Classic pHash (Zauner 2010): area-pool the luminance to 32×32
    (small images upsample by repetition first — deterministic), take
    the orthonormal 2D DCT-II, keep the top-left 8×8 low-frequency
    block, and set bit i when coefficient i exceeds the median of the
    63 non-DC coefficients. Pure numpy — the DCT is one 32×32 basis
    matmul, no scipy."""
    import numpy as np

    h, w = lum.shape
    if h < 32:
        lum = np.repeat(lum, -(-32 // h), axis=0)
    if w < 32:
        lum = np.repeat(lum, -(-32 // w), axis=1)
    rows = np.array_split(lum, 32, axis=0)
    g = np.array(
        [[c.mean() for c in np.array_split(r, 32, axis=1)] for r in rows]
    )
    n = 32
    k = np.arange(n)[:, None]
    x = np.arange(n)[None, :]
    basis = np.cos(np.pi * (2 * x + 1) * k / (2 * n))
    basis[0] *= np.sqrt(1.0 / n)
    basis[1:] *= np.sqrt(2.0 / n)
    dct = basis @ g @ basis.T
    block = dct[:8, :8].reshape(-1)
    med = float(np.median(block[1:]))
    bits = 0
    for i, v in enumerate(block):
        if v > med:
            bits |= 1 << (63 - i)
    # interpret as signed 64-bit so it fits Spark's LongType
    return int(np.int64(np.uint64(bits)))


def image_phash(media: DataFrame) -> DataFrame:
    """64-bit perceptual hash per image payload — the missing dedup
    story for the multimodal column: re-encoded copies (same pixels
    in PNG vs BMP vs netpbm) hash IDENTICALLY by construction (every
    decoder produces the same luminance), and lightly-edited copies
    land within a few bits, so the lexical dedup family's banded
    hamming machinery applies to images. One Arrow map stage over the
    binary column; corrupt or non-image payloads yield a null-hash
    audit row, genuinely missing codecs raise."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("phash", T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
        ]
    )

    @worker_task
    def kernel(it):
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None or len(payload) == 0:
                    rows.append((int(mid), None, None, None))
                    continue
                try:
                    w, h, lum = decode_luminance(bytes(payload))
                    rows.append((int(mid), _phash64(lum), w, h))
                except NotImplementedError:
                    raise
                except Exception:
                    rows.append((int(mid), None, None, None))
            # nullable Int64 for the hash column: a plain DataFrame
            # with a None (corrupt row) in the batch coerces int64 →
            # float64, silently zeroing the low ~11 bits of every
            # 64-bit hash above 2^53 (caught by the q117 oracle gate)
            yield pd.DataFrame(
                {
                    "media_id": pd.array([r[0] for r in rows], dtype="int64"),
                    "phash": pd.array([r[1] for r in rows], dtype="Int64"),
                    "width": pd.array([r[2] for r in rows], dtype="Int32"),
                    "height": pd.array([r[3] for r in rows], dtype="Int32"),
                }
            )

    return media.select("media_id", "payload").mapInPandas(kernel, schema)


def phash_dup_pairs(hashes: DataFrame,
                    max_hamming: int = 7,
                    max_df: int | None = 10_000) -> DataFrame:
    """Near-duplicate image pairs from :func:`image_phash` hashes —
    the SimHash banding pattern on the 64-bit perceptual hash: 8
    bands of 8 bits propose candidates sharing ANY exact band, then
    ``bit_count(xor)`` verifies hamming ≤ ``max_hamming``. Pigeonhole
    guarantee: a pair within hamming ≤ 7 differs in at most 7 of the
    8 bands, so at least one band matches exactly — recall is EXACT
    at the default threshold (raise it past bands−1 and banding
    becomes heuristic, the documented SimHash trade). Quadratic work
    confined to same-band buckets; null hashes drop out.

    ``max_df`` is the q67 hot-bucket cap at image scale: a band value
    shared by f images generates O(f²) candidate rows, and boilerplate
    imagery (solid-color cards, logo frames) concentrates whole
    corpora onto a few band values — one such value over 10⁵ images
    is a 10¹⁰-row bucket. Band values with document frequency >
    ``max_df`` are dropped from candidate generation (a bounded,
    broadcastable drop list), so candidate work is ≤ bands·n·max_df.
    The pigeonhole guarantee then holds for pairs retaining ≥ 1
    uncapped band; pairs ALL of whose bands are corpus-hot are the
    documented trade (they are overwhelmingly boilerplate↔boilerplate
    pairs a curator caps on purpose). ``None`` disables."""
    h = hashes.where(F.col("phash").isNotNull()).select(
        F.col("media_id").alias("mid"), F.col("phash").alias("ph")
    )
    banded = h.select(
        "mid", "ph",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("bi"),
                    F.shiftrightunsigned("ph", 8 * b)
                    .bitwiseAND(F.lit(255)).alias("bv"),
                )
                for b in range(8)
            ])
        ).alias("band"),
    ).select("mid", "ph", F.col("band.bi").alias("bi"),
             F.col("band.bv").alias("bv"))
    if max_df is not None:
        hot = (
            banded.groupBy("bi", "bv")
            .agg(F.count(F.lit(1)).alias("df_"))
            .where(F.col("df_") > max_df)
            .select("bi", "bv")
        )
        banded = banded.join(F.broadcast(hot), ["bi", "bv"], "left_anti")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, on=["bi", "bv"])
        .where(F.col("a.mid") < F.col("b.mid"))
        .select(
            F.col("a.mid").alias("id_a"),
            F.col("b.mid").alias("id_b"),
            F.bit_count(
                F.col("a.ph").bitwiseXOR(F.col("b.ph"))
            ).cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= int(max_hamming))
        .dropDuplicates(["id_a", "id_b"])
    )
