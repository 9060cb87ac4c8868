"""LZ4 block codec + HRZC artifact framing (SURVEY §2A C2, C4).

Pure-Python, dependency-free re-expression of the reference's realtime
decompression middleware (`firmware/middleware/compression.c`):

- LZ4 block format (`compression.c:60-117` Decompress_LZ4): standard
  token-nibble sequences — high nibble = literal run length, low nibble =
  match length − 4, both 15-extended with 255-chained bytes; literals,
  then a 16-bit little-endian back-reference offset; overlapping copies
  allowed (offset < match length replicates runs).
- Byte RLE (`compression.c:23-58` Decompress_RLE): [value, count] pairs,
  count ≤ 255.
- Byte delta (`compression.c:117-143` Decompress_Delta): first byte raw,
  then int8 differences accumulated mod 256.
- HRZC header (`compression.h:26-32` CompressionHeader_t): five LE u32s —
  magic 0x484C5A43 ("HRZC" read as a little-endian word), type enum
  (NONE=0 RLE=1 LZ4=2 HUFFMAN=3 DELTA=4, `compression.h:17-23`),
  compressed size, decompressed size, CRC32 of the *decompressed* payload.
- ``decompress_auto`` (`compression.c:145-205` Decompress_Auto +
  Decompress_Validate): validate magic/type/sizes, dispatch on the type
  byte, verify the produced size — plus the CRC check the reference left
  as a TODO (`compression.c:264`).

These are per-payload scalar helpers meant to run inside Arrow-batched
Pandas UDFs over `binary` columns (see `operators/codec.py`), one payload
per row: the DataFrame layer supplies the distribution, so nothing here
ever sees more than one artifact at a time. Compression is the standard
greedy hash-table LZ4 encoder, constrained to emit streams the reference
decoder accepts (final sequence is literals-only; matches stop short of
the last 5 bytes, and no match starts within the last 12 — the canonical
LZ4 end-of-block rules).
"""

from __future__ import annotations

import struct
import zlib

import pandas as pd  # module-scope: pandas_udf type hints resolve here

COMPRESSION_MAGIC = 0x484C5A43  # "HRZC" (compression.c:11)

COMPRESS_NONE = 0
COMPRESS_RLE = 1
COMPRESS_LZ4 = 2
COMPRESS_HUFFMAN = 3  # enum slot exists in the reference; no codec ships
COMPRESS_DELTA = 4

_HEADER = struct.Struct("<IIIII")  # magic, type, csize, dsize, crc32

_MINMATCH = 4
_MFLIMIT = 12  # no match may start within the last 12 bytes
_LASTLITERALS = 5  # the last 5 bytes are always literals
_MAX_OFFSET = 0xFFFF  # 16-bit back-reference window


# --------------------------------------------------------------------------
# LZ4 block (C2)
# --------------------------------------------------------------------------

def lz4_compress(data: bytes) -> bytes:
    """Greedy LZ4 block encode: hash-table of 4-byte prefixes, emit
    (literals, offset, match) sequences, trailing literals-only sequence."""
    n = len(data)
    out = bytearray()
    if n == 0:
        return bytes(out)
    table: dict[bytes, int] = {}
    anchor = 0
    i = 0
    match_limit = n - _MFLIMIT  # last position a match may start at (excl.)
    copy_end = n - _LASTLITERALS  # matches may not extend into last 5 bytes
    while i < match_limit:
        key = data[i : i + _MINMATCH]
        j = table.get(key)
        table[key] = i
        if j is None or i - j > _MAX_OFFSET:
            i += 1
            continue
        # extend the 4-byte seed forward
        m = i + _MINMATCH
        k = j + _MINMATCH
        while m < copy_end and data[m] == data[k]:
            m += 1
            k += 1
        _emit_sequence(out, data, anchor, i - anchor, i - j, m - i)
        # index the positions the match skipped (sparse: every 3rd) so
        # later matches can still land inside long runs
        for p in range(i + 1, min(m, match_limit), 3):
            table[data[p : p + _MINMATCH]] = p
        i = m
        anchor = m
    _emit_last_literals(out, data, anchor, n - anchor)
    return bytes(out)


def _emit_sequence(
    out: bytearray,
    data: bytes,
    anchor: int,
    lit_len: int,
    offset: int,
    match_len: int,
) -> None:
    ml = match_len - _MINMATCH
    out.append((min(lit_len, 15) << 4) | min(ml, 15))
    if lit_len >= 15:
        rem = lit_len - 15
        while rem >= 255:
            out.append(255)
            rem -= 255
        out.append(rem)
    out += data[anchor : anchor + lit_len]
    out += offset.to_bytes(2, "little")
    if ml >= 15:
        rem = ml - 15
        while rem >= 255:
            out.append(255)
            rem -= 255
        out.append(rem)


def _emit_last_literals(
    out: bytearray, data: bytes, anchor: int, lit_len: int
) -> None:
    out.append(min(lit_len, 15) << 4)
    if lit_len >= 15:
        rem = lit_len - 15
        while rem >= 255:
            out.append(255)
            rem -= 255
        out.append(rem)
    out += data[anchor : anchor + lit_len]


def lz4_decompress(src: bytes) -> bytes:
    """Decode an LZ4 block — byte-faithful to the reference's sequence
    loop (`compression.c:60-117`): token, 15-extended literal run,
    literals, LE16 offset, 15-extended match length, overlap-safe
    byte-by-byte match copy; a trailing literals-only sequence ends the
    block. Adds the bounds checks the firmware skips."""
    dst = bytearray()
    i, n = 0, len(src)
    while i < n:
        token = src[i]
        i += 1
        lit = token >> 4
        if lit == 15:
            while True:
                if i >= n:
                    raise ValueError("lz4: truncated literal length")
                b = src[i]
                i += 1
                lit += b
                if b != 255:
                    break
        if i + lit > n:
            raise ValueError("lz4: literal run past end of block")
        dst += src[i : i + lit]
        i += lit
        if i >= n:
            break  # literals-only final sequence
        if i + 2 > n:
            raise ValueError("lz4: truncated offset")
        offset = src[i] | (src[i + 1] << 8)
        i += 2
        ml = (token & 0x0F) + _MINMATCH
        if token & 0x0F == 15:
            while True:
                if i >= n:
                    raise ValueError("lz4: truncated match length")
                b = src[i]
                i += 1
                ml += b
                if b != 255:
                    break
        start = len(dst) - offset
        if start < 0 or offset == 0:
            raise ValueError("lz4: offset reaches before block start")
        for _ in range(ml):  # byte-wise: overlapping copies replicate runs
            dst.append(dst[start])
            start += 1
    return bytes(dst)


# --------------------------------------------------------------------------
# Byte RLE / delta (C1/C3 — binary forms matching the firmware decoders)
# --------------------------------------------------------------------------

def rle_compress(data: bytes) -> bytes:
    """[value, count] pairs, runs capped at 255 (compression.c:23-58)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        v = data[i]
        run = 1
        while i + run < n and data[i + run] == v and run < 255:
            run += 1
        out.append(v)
        out.append(run)
        i += run
    return bytes(out)


def rle_decompress(src: bytes) -> bytes:
    if len(src) % 2:
        raise ValueError("rle: odd-length stream")
    out = bytearray()
    for i in range(0, len(src), 2):
        out += bytes([src[i]]) * src[i + 1]
    return bytes(out)


def delta_compress(data: bytes) -> bytes:
    """First byte raw, then int8 forward differences (compression.c:117-143)."""
    if not data:
        return b""
    out = bytearray([data[0]])
    for i in range(1, len(data)):
        out.append((data[i] - data[i - 1]) & 0xFF)
    return bytes(out)


def delta_decompress(src: bytes) -> bytes:
    if not src:
        return b""
    out = bytearray([src[0]])
    cur = src[0]
    for b in src[1:]:
        cur = (cur + b) & 0xFF
        out.append(cur)
    return bytes(out)


# --------------------------------------------------------------------------
# HRZC artifact framing + auto-dispatch (C4)
# --------------------------------------------------------------------------

_ENCODERS = {
    COMPRESS_NONE: lambda d: d,
    COMPRESS_RLE: rle_compress,
    COMPRESS_LZ4: lz4_compress,
    COMPRESS_DELTA: delta_compress,
}

_DECODERS = {
    COMPRESS_NONE: lambda d: d,
    COMPRESS_RLE: rle_decompress,
    COMPRESS_LZ4: lz4_decompress,
    COMPRESS_DELTA: delta_decompress,
}


def pack_artifact(data: bytes, ctype: int) -> bytes:
    """Encode ``data`` with codec ``ctype`` and frame it with the HRZC
    header (compression.h:26-32): CRC32 is over the decompressed payload,
    so integrity survives the round-trip check."""
    enc = _ENCODERS[ctype](data)
    header = _HEADER.pack(
        COMPRESSION_MAGIC, ctype, len(enc), len(data), zlib.crc32(data)
    )
    return header + enc


def validate_artifact(blob: bytes) -> bool:
    """Header sanity (compression.c:247-272 Decompress_Validate): size,
    magic, known type, non-zero sizes. The reference's ``type >= 4`` test
    wrongly rejects its own COMPRESS_DELTA=4; here every shipped codec
    validates."""
    if len(blob) < _HEADER.size:
        return False
    magic, ctype, csize, dsize, _crc = _HEADER.unpack_from(blob)
    if magic != COMPRESSION_MAGIC or ctype not in _DECODERS:
        return False
    if csize == 0 or dsize == 0:
        return False
    return len(blob) >= _HEADER.size + csize


def decompress_auto(blob: bytes) -> bytes | None:
    """Header-routed decode (compression.c:145-205 Decompress_Auto):
    magic check → type-byte dispatch → size verification → CRC32
    verification (the reference's TODO). Returns the payload, or None for
    any invalid/corrupt artifact — the columnar caller keeps rejects as
    NULL rows instead of aborting the batch."""
    if len(blob) < _HEADER.size:
        return None
    magic, ctype, csize, dsize, crc = _HEADER.unpack_from(blob)
    if magic != COMPRESSION_MAGIC:
        return None
    decoder = _DECODERS.get(ctype)
    if decoder is None:
        return None
    body = blob[_HEADER.size : _HEADER.size + csize]
    if len(body) != csize:
        return None
    try:
        out = decoder(body)
    except ValueError:
        return None
    if len(out) != dsize or zlib.crc32(out) != crc:
        return None
    return out


# --------------------------------------------------------------------------
# Column-level helpers (Arrow-batched; built lazily so importing this
# module never requires an active SparkSession)
# --------------------------------------------------------------------------

# original public names for the block codec
lz4_block_compress = lz4_compress
lz4_block_decompress = lz4_decompress


def lz4_decompress_col(col):
    """Decode a binary column of LZ4 blocks blob-parallel: parallelism is
    ACROSS payloads, so a scalar Pandas UDF is the sanctioned Python path
    — each Arrow batch decodes its blobs independently on the executor."""
    from pyspark.sql import functions as F

    @F.pandas_udf("binary")
    def fn(blobs: pd.Series) -> pd.Series:
        return blobs.map(lambda b: lz4_decompress(bytes(b)))

    return fn(col)
