"""Real pure-Python PNG codec — the round-5 "genuinely compressed format"
behind ``decode_stub=False``.

The decoder implements the whole stack from public specs with no
decompression library:

* **DEFLATE** (RFC 1951): a from-scratch ``_inflate`` handling all three
  block types — stored, fixed-Huffman, and dynamic-Huffman (code-length
  alphabet with 16/17/18 repeats included). stdlib ``zlib`` is used ONLY
  on the encode side (producing payloads) and for the CRC-32/Adler-32
  *checksum* verification — never to decompress.
* **zlib container** (RFC 1950): header validation + Adler-32 check.
* **PNG** (RFC 2083): signature, chunk walk with per-chunk CRC-32
  verification, IHDR parse, multi-IDAT concatenation, and scanline
  UNFILTERING for all five filter types (None/Sub/Up/Average/Paeth) on
  8-bit grayscale.

Scope: 8-bit grayscale (color type 0), non-interlaced — the synthetic
corpus' shape; anything else raises with the exact unsupported field.
The Spark surface (``png_from_documents`` / ``decode_png``) lives in
``multimodal.py`` beside the WAV/PPM twins.
"""

from __future__ import annotations

import struct
import zlib

# ----------------------------------------------------------- RFC 1951 tables
_LEN_BASE = (3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19, 23, 27, 31, 35,
             43, 51, 59, 67, 83, 99, 115, 131, 163, 195, 227, 258)
_LEN_EXTRA = (0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3,
              4, 4, 4, 4, 5, 5, 5, 5, 0)
_DIST_BASE = (1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65, 97, 129, 193,
              257, 385, 513, 769, 1025, 1537, 2049, 3073, 4097, 6145, 8193,
              12289, 16385, 24577)
_DIST_EXTRA = (0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6, 7, 7, 8, 8,
               9, 9, 10, 10, 11, 11, 12, 12, 13, 13)
_CLC_ORDER = (16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2, 14, 1,
              15)

_FIXED_LIT = [8] * 144 + [9] * 112 + [7] * 24 + [8] * 8
_FIXED_DIST = [5] * 30


def _huff_table(lengths: list[int]) -> dict[tuple[int, int], int]:
    """Canonical Huffman decode table: (code_length, code) -> symbol."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    for ln in range(1, max(lengths, default=0) + 1):
        for sym, sl in enumerate(lengths):
            if sl == ln:
                table[(ln, code)] = sym
                code += 1
        code <<= 1
    return table


class _BitReader:
    """LSB-first bit reader over a bytes buffer (DEFLATE bit order)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def bits(self, n: int) -> int:
        v = 0
        d, p = self.data, self.pos
        if (p + n) > len(d) * 8:
            raise ValueError("inflate: truncated stream")
        for i in range(n):
            v |= ((d[p >> 3] >> (p & 7)) & 1) << i
            p += 1
        self.pos = p
        return v

    def align_byte(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def symbol(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 16):
            code = (code << 1) | self.bits(1)
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("inflate: invalid Huffman code")


def _read_dynamic_tables(br: _BitReader):
    """Dynamic-block header: code-length code, then the two main tables
    (literal/length + distance) with 16/17/18 repeat codes."""
    hlit = br.bits(5) + 257
    hdist = br.bits(5) + 1
    hclen = br.bits(4) + 4
    clc_lengths = [0] * 19
    for i in range(hclen):
        clc_lengths[_CLC_ORDER[i]] = br.bits(3)
    clc = _huff_table(clc_lengths)
    lengths: list[int] = []
    while len(lengths) < hlit + hdist:
        sym = br.symbol(clc)
        if sym < 16:
            lengths.append(sym)
        elif sym == 16:
            if not lengths:
                raise ValueError("inflate: repeat with no previous length")
            lengths.extend([lengths[-1]] * (3 + br.bits(2)))
        elif sym == 17:
            lengths.extend([0] * (3 + br.bits(3)))
        else:  # 18
            lengths.extend([0] * (11 + br.bits(7)))
    if len(lengths) != hlit + hdist:
        raise ValueError("inflate: code length overflow")
    return _huff_table(lengths[:hlit]), _huff_table(lengths[hlit:])


def _inflate(data: bytes) -> bytes:
    """RFC 1951 DEFLATE decompression, from scratch.

    >>> _inflate(zlib.compress(b'abcabcabcabc', 9)[2:-4])
    b'abcabcabcabc'
    >>> _inflate(zlib.compress(bytes(range(256)) * 8, 0)[2:-4]) == bytes(range(256)) * 8
    True
    """
    br = _BitReader(data)
    out = bytearray()
    while True:
        final = br.bits(1)
        btype = br.bits(2)
        if btype == 0:  # stored
            br.align_byte()
            hdr = br.pos >> 3
            if hdr + 4 > len(data):
                raise ValueError("inflate: truncated stored header")
            ln, nln = struct.unpack_from("<HH", data, hdr)
            if ln ^ nln != 0xFFFF:
                raise ValueError("inflate: stored LEN/NLEN mismatch")
            if hdr + 4 + ln > len(data):
                raise ValueError("inflate: truncated stored block")
            out += data[hdr + 4: hdr + 4 + ln]
            br.pos = (hdr + 4 + ln) * 8
        elif btype in (1, 2):
            if btype == 1:
                lit, dist = _huff_table(_FIXED_LIT), _huff_table(_FIXED_DIST)
            else:
                lit, dist = _read_dynamic_tables(br)
            while True:
                sym = br.symbol(lit)
                if sym < 256:
                    out.append(sym)
                elif sym == 256:
                    break
                else:
                    if sym > 285:
                        raise ValueError(f"inflate: bad length symbol {sym}")
                    length = _LEN_BASE[sym - 257] + br.bits(_LEN_EXTRA[sym - 257])
                    dsym = br.symbol(dist)
                    if dsym > 29:
                        raise ValueError(f"inflate: bad distance symbol {dsym}")
                    d = _DIST_BASE[dsym] + br.bits(_DIST_EXTRA[dsym])
                    if d > len(out):
                        raise ValueError("inflate: distance beyond output")
                    for _ in range(length):  # may overlap — byte-at-a-time
                        out.append(out[-d])
        else:
            raise ValueError("inflate: reserved block type 3")
        if final:
            return bytes(out)


def _zlib_decompress(b: bytes) -> bytes:
    """RFC 1950 container around ``_inflate``: header sanity + Adler-32.

    >>> _zlib_decompress(zlib.compress(b'hello png', 6))
    b'hello png'
    """
    if len(b) < 6:
        raise ValueError("zlib: truncated stream")
    cmf, flg = b[0], b[1]
    if cmf & 0x0F != 8:
        raise ValueError(f"zlib: unsupported method {cmf & 0x0F}")
    if (cmf * 256 + flg) % 31 != 0:
        raise ValueError("zlib: header check failed")
    if flg & 0x20:
        raise ValueError("zlib: preset dictionary unsupported")
    raw = _inflate(b[2:-4])
    (want,) = struct.unpack(">I", b[-4:])
    if zlib.adler32(raw) & 0xFFFFFFFF != want:
        raise ValueError("zlib: adler32 mismatch")
    return raw


# ------------------------------------------------------------------ PNG layer
_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(ctype: bytes, payload: bytes) -> bytes:
    crc = zlib.crc32(ctype + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + ctype + payload + struct.pack(">I", crc)


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _filter_row(raw: bytes, prior: bytes, ftype: int) -> bytes:
    """Forward filter (encode side), 8-bit grayscale (bpp=1)."""
    out = bytearray()
    for i, x in enumerate(raw):
        a = raw[i - 1] if i else 0
        b = prior[i]
        c = prior[i - 1] if i else 0
        if ftype == 0:
            out.append(x)
        elif ftype == 1:
            out.append((x - a) & 0xFF)
        elif ftype == 2:
            out.append((x - b) & 0xFF)
        elif ftype == 3:
            out.append((x - (a + b) // 2) & 0xFF)
        elif ftype == 4:
            out.append((x - _paeth(a, b, c)) & 0xFF)
        else:
            raise ValueError(f"png: bad filter type {ftype}")
    return bytes(out)


def _unfilter_row(filt: bytes, prior: bytes, ftype: int) -> bytes:
    """Reverse filter (decode side), 8-bit grayscale (bpp=1)."""
    out = bytearray()
    for i, x in enumerate(filt):
        a = out[i - 1] if i else 0
        b = prior[i]
        c = prior[i - 1] if i else 0
        if ftype == 0:
            out.append(x)
        elif ftype == 1:
            out.append((x + a) & 0xFF)
        elif ftype == 2:
            out.append((x + b) & 0xFF)
        elif ftype == 3:
            out.append((x + (a + b) // 2) & 0xFF)
        elif ftype == 4:
            out.append((x + _paeth(a, b, c)) & 0xFF)
        else:
            raise ValueError(f"png: bad filter type {ftype}")
    return bytes(out)


def _png_encode(gray: bytes, width: int, height: int,
                filter_type: int = 0) -> bytes:
    """Minimal canonical PNG writer: 8-bit grayscale, non-interlaced, one
    IDAT, every scanline filtered with ``filter_type`` (so the decoder's
    unfiltering is genuinely exercised per type).

    >>> _png_encode(bytes([0, 128, 255]), 3, 1)[:8] == _PNG_SIG
    True
    """
    if len(gray) != width * height:
        raise ValueError("png: pixel buffer does not match dimensions")
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = bytearray()
    prior = bytes(width)
    for r in range(height):
        row = gray[r * width:(r + 1) * width]
        raw.append(filter_type)
        raw += _filter_row(row, prior, filter_type)
        prior = row
    return (_PNG_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
            + _chunk(b"IEND", b""))


def _png_decode(b: bytes) -> dict:
    """REAL pure-Python PNG decode: signature, chunk walk with CRC-32
    verification, IHDR validation (8-bit grayscale, non-interlaced),
    multi-IDAT concatenation, from-scratch zlib/DEFLATE decompression,
    per-scanline unfiltering (all five types), numeric metadata out.

    >>> d = _png_decode(_png_encode(bytes([0, 128, 255, 7]), 2, 2, 4))
    >>> (d['width'], d['height'], d['checksum'], d['max_px'])
    (2, 2, 390, 255)
    """
    if b[:8] != _PNG_SIG:
        raise ValueError("png: bad signature")
    pos, ihdr, idat, ended = 8, None, bytearray(), False
    while pos < len(b):
        if pos + 8 > len(b):
            raise ValueError("png: truncated chunk header")
        (ln,) = struct.unpack_from(">I", b, pos)
        ctype = b[pos + 4: pos + 8]
        payload = b[pos + 8: pos + 8 + ln]
        if len(payload) != ln or pos + 12 + ln > len(b):
            raise ValueError("png: truncated chunk")
        (crc,) = struct.unpack_from(">I", b, pos + 8 + ln)
        if zlib.crc32(ctype + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"png: CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", payload)
        elif ctype == b"IDAT":
            idat += payload
        elif ctype == b"IEND":
            ended = True
            break
        pos += 12 + ln
    if ihdr is None or not idat or not ended:
        raise ValueError("png: missing IHDR/IDAT/IEND")
    width, height, depth, ctype_n, comp, filt, interlace = ihdr
    if (depth, ctype_n, comp, filt, interlace) != (8, 0, 0, 0, 0):
        raise ValueError(
            f"png: unsupported format depth={depth} color={ctype_n} "
            f"comp={comp} filter={filt} interlace={interlace}")
    raw = _zlib_decompress(bytes(idat))
    if len(raw) != (width + 1) * height:
        raise ValueError("png: scanline data size mismatch")
    out = bytearray()
    prior = bytes(width)
    for r in range(height):
        row = raw[r * (width + 1):(r + 1) * (width + 1)]
        prior = _unfilter_row(row[1:], prior, row[0])
        out += prior
    return {
        "width": width,
        "height": height,
        "bit_depth": depth,
        "checksum": sum(out),
        "max_px": max(out, default=0),
    }
