"""Adaptive posting-payload codec: LEB128 varbyte, FOR/PFOR bit-packing,
or group varint (C6).

Behavioral reference (not a port):
  - FOR: 256-int blocks packed at a fixed bit width, all-equal blocks
    special-cased — lucene/core/src/java/org/apache/lucene/codecs/lucene104/ForUtil.java:34,101
  - PFOR: up to 7 outliers ("exceptions") promoted out of the block so
    the base width tracks the 8th-largest value —
    lucene/core/src/java/org/apache/lucene/codecs/lucene104/PForUtil.java:29,48-66
  - Group varint: 4 values per group, 2-bit length fields, 1-4 bytes
    per value — lucene/core/src/java/org/apache/lucene/util/GroupVIntUtil.java:30-67
    (see util.groupvint for the SIMD-friendly flags-first layout).
  - VInt fallback for payloads where varbyte is smaller (short/skewed
    arrays) — the Lucene tail-block analog.

Wire format (self-describing, 1 header byte):
  0x01  LEB128 payload follows (util.varbyte wire format)
  0x02  packed: [w:1][n_exc:1][n:u32le][base ceil(n*w/8) bytes,
        little-endian bit order][exc indices LEB][exc values LEB]
        exception slots hold 0 in the base array and are patched from
        the full values on decode.
  0x03  group varint (util.groupvint wire format); only chosen for
        payloads whose values all fit in 32 bits AND whose group-varint
        size beats LEB — otherwise 0x01 is written. Any payload a
        codec setting can produce, every decode_block can read.

`encode_block` computes candidate sizes analytically and materializes
only the winner; all paths are O(total_bytes) numpy with no per-value
Python. Values are non-negative < 2**63.

DEFAULT IS VBYTE (set SPARK_GRAFT_CODEC=pfor|groupvint to switch):
measured at sf0.1, the bit-packed index is 2.8% LARGER after parquet
ZSTD (dense bits carry more entropy per byte than byte-aligned LEB, so
the page compressor gains less) and decode-heavy queries run ~1.3-1.7x
slower (unpackbits materializes an n x w bit matrix). Group varint
decodes faster where values need >1 byte (byte-aligned gathers, <=4
passes vs <=10: measured 2.2x on 3-byte gaps n=50k, ~1.2x on mixed
positions, and 16% smaller) but LOSES ~1.5x and +26% size on 1-byte
gaps (flag-nibble overhead) — and small gaps dominate this corpus's
payload mix, so vbyte stays the default. Re-measure on high-docID-gap
indexes (sparse terms over huge doc spaces) where GV should win
end-to-end. All paths stay fully wired and contract-tested; decode
always dispatches on the header, so every format reads either way.
"""

from __future__ import annotations

import os
import struct

import numpy as np

from lucene_spark.util import groupvint
from lucene_spark.util.varbyte import decode as leb_decode
from lucene_spark.util.varbyte import encode as leb_encode

_CODEC_ENV = os.environ.get("SPARK_GRAFT_CODEC", "vbyte")
DEFAULT_PACKED = _CODEC_ENV == "pfor"
DEFAULT_GVINT = _CODEC_ENV == "groupvint"
CODEC_NAME = {
    "pfor": "adaptive-pfor-v1",
    "groupvint": "groupvint-v1",
}.get(_CODEC_ENV, "vbyte-v1")

# every manifest['codec'] this decode_block can read (all names share
# the self-describing 1-byte header, so any reads any)
READABLE_CODECS = frozenset({"vbyte-v1", "adaptive-pfor-v1", "groupvint-v1"})


def validate_manifest_codec(manifest: dict) -> str:
    """Fail fast on indexes whose payloads this decoder cannot read.

    Indexes built before the header byte existed have no 'codec' key and
    store RAW varbyte payloads: decode_block would silently drop the
    first value whenever the leading LEB byte happens to be 0x01, or
    raise an opaque 'unknown block codec tag' mid-query. Checked at
    every reader entry point (IndexSearcher, expunge) instead.
    """
    codec = manifest.get("codec")
    if codec is None:
        raise ValueError(
            "index predates the self-describing block codec "
            "(manifest has no 'codec' key) — rebuild required"
        )
    if codec not in READABLE_CODECS:
        raise ValueError(
            f"index codec {codec!r} is not readable by this build "
            f"(readable: {sorted(READABLE_CODECS)})"
        )
    return codec

_LEB = 0x01
_PACKED = 0x02
_GVINT = 0x03
_MAX_EXCEPTIONS = 7  # PForUtil.java:29


def _leb_lengths(v: np.ndarray) -> np.ndarray:
    """LEB128 byte count of each value of v (uint64)."""
    nbytes = np.ones(v.shape, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while np.any(tmp):
        nbytes += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    return nbytes


def _leb_size(v: np.ndarray) -> int:
    """Total LEB128 bytes for v without materializing the encoding."""
    return int(_leb_lengths(v).sum())


def _pack_bits(v: np.ndarray, w: int) -> bytes:
    if w == 0:
        return b""
    shifts = np.arange(w, dtype=np.uint64)
    bits = ((v[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits.reshape(-1), bitorder="little").tobytes()


def _unpack_bits(buf: memoryview, n: int, w: int) -> np.ndarray:
    if w == 0:
        return np.zeros(n, dtype=np.uint64)
    raw = np.frombuffer(buf, dtype=np.uint8)
    bits = np.unpackbits(raw, count=n * w, bitorder="little").reshape(n, w)
    shifts = np.arange(w, dtype=np.uint64)
    return (bits.astype(np.uint64) << shifts[None, :]).sum(
        axis=1, dtype=np.uint64
    )


_LEB_PREFIX = bytes([_LEB])


def _encode_gvint(values: np.ndarray) -> bytes:
    """Group-varint candidate: smaller of LEB128 and group varint per
    payload; LEB whenever any value exceeds 32 bits (GroupVIntUtil is
    int-ranged)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    leb_total = 1 + _leb_size(v)
    if int(v.max()) > groupvint.MAX_VALUE:
        return bytes([_LEB]) + leb_encode(v)
    # analytic size: tag + u32 count + ceil(n/4) flags + data bytes
    nb_sum = int(
        v.size
        + (v > 0xFF).sum()
        + (v > 0xFFFF).sum()
        + (v > 0xFFFFFF).sum()
    )
    gv_total = 1 + 4 + (v.size + 3) // 4 + nb_sum
    if gv_total >= leb_total:
        return bytes([_LEB]) + leb_encode(v)
    return bytes([_GVINT]) + groupvint.encode(v)


def encode_block(
    values: np.ndarray,
    packed: bool | None = None,
    gvint: bool | None = None,
) -> bytes:
    """Encode a non-negative int array. packed=True chooses the smaller
    of LEB128 and FOR/PFOR bit-packing per payload; gvint=True the
    smaller of LEB128 and group varint; default follows
    SPARK_GRAFT_CODEC (vbyte unless 'pfor'/'groupvint' — see module
    doc)."""
    if gvint is None:
        gvint = DEFAULT_GVINT and packed is None
    if gvint:
        return _encode_gvint(values)
    if packed is None:
        packed = DEFAULT_PACKED
    if not packed:
        # fast path: single call into the vectorized LEB encoder (this
        # wrapper runs once per tiny per-term array during flush — keep
        # its python overhead minimal)
        out = leb_encode(values)
        return _LEB_PREFIX + out if out else b""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    n = v.size
    leb_total = 1 + _leb_size(v)

    vmax = int(v.max())
    w_full = vmax.bit_length()
    # candidate widths: no exceptions, or base width from the 8th-largest
    # (values strictly above it become the <=7 patched exceptions)
    candidates = [(w_full, 0)]
    if n > _MAX_EXCEPTIONS:
        kth = int(np.partition(v, n - (_MAX_EXCEPTIONS + 1))[n - (_MAX_EXCEPTIONS + 1)])
        w_base = kth.bit_length()
        if w_base < w_full:
            n_exc = int((v > np.uint64((1 << w_base) - 1)).sum())
            if n_exc <= _MAX_EXCEPTIONS:
                candidates.append((w_base, n_exc))
    best = None
    for w, n_exc in candidates:
        size = 7 + (n * w + 7) // 8
        if n_exc:
            size += 2 * n_exc * 9  # pessimistic LEB bound for idx+vals
        if best is None or size < best[0]:
            best = (size, w, n_exc)
    if best[0] >= leb_total:
        return bytes([_LEB]) + leb_encode(v)
    _, w, n_exc = best
    if n_exc:
        mask = v > np.uint64((1 << w) - 1)
        exc_idx = np.flatnonzero(mask).astype(np.uint64)
        exc_val = v[mask]
        base = v.copy()
        base[mask] = 0
        tail = leb_encode(np.concatenate((exc_idx, exc_val)))
    else:
        base = v
        tail = b""
    out = (
        bytes([_PACKED, w, n_exc])
        + struct.pack("<I", n)
        + _pack_bits(base, w)
        + tail
    )
    # the packed attempt can exceed the LEB size (pessimistic exception
    # estimate) — keep the guarantee of never being larger than LEB + 1
    if len(out) >= leb_total:
        return bytes([_LEB]) + leb_encode(v)
    return out


def decode_block(buf: bytes) -> np.ndarray:
    """Decode an encode_block payload back into an int64 array."""
    if not buf:
        return np.empty(0, dtype=np.int64)
    mv = memoryview(buf)
    tag = mv[0]
    if tag == _LEB:
        return leb_decode(mv[1:])
    if tag == _GVINT:
        return groupvint.decode(mv[1:])
    if tag != _PACKED:
        raise ValueError(f"unknown block codec tag {tag:#x}")
    w = mv[1]
    n_exc = mv[2]
    n = struct.unpack("<I", mv[3:7])[0]
    packed_len = (n * w + 7) // 8
    base = _unpack_bits(mv[7:7 + packed_len], n, w)
    if n_exc:
        tail = leb_decode(mv[7 + packed_len:])
        exc_idx = tail[:n_exc].astype(np.int64)
        exc_val = tail[n_exc:].astype(np.uint64)
        base[exc_idx] = exc_val
    return base.astype(np.int64)


def encode_blocks(values: np.ndarray, counts: np.ndarray) -> list[bytes]:
    """``encode_block`` of each consecutive segment of ``values`` (segment
    i holds ``counts[i]`` values), byte-identical to encoding them one by
    one. Under the default LEB codec the whole array is encoded in one
    vectorized pass and cut at the segments' byte boundaries (LEB128
    encodes every value on its own); the other codecs choose a format
    per payload, so they encode segment by segment."""
    v = np.asarray(values, dtype=np.uint64)
    bounds = np.concatenate(([0], np.cumsum(counts, dtype=np.int64)))
    if DEFAULT_PACKED or DEFAULT_GVINT:
        return [
            encode_block(v[a:b])
            for a, b in zip(bounds[:-1].tolist(), bounds[1:].tolist())
        ]
    body = leb_encode(v)
    cuts = np.concatenate(([0], np.cumsum(_leb_lengths(v))))[bounds].tolist()
    return [
        _LEB_PREFIX + body[a:b] if b > a else b""
        for a, b in zip(cuts[:-1], cuts[1:])
    ]


def decode_blocks(payloads) -> tuple[np.ndarray, np.ndarray]:
    """Decode a sequence of ``encode_block`` payloads into one flat int64
    array plus the value count of each payload. When every payload is
    LEB-tagged (or empty) the joined bytes decode in one vectorized pass;
    otherwise payloads decode one by one."""
    n = len(payloads)
    lens = np.fromiter(map(len, payloads), dtype=np.int64, count=n)
    data = np.frombuffer(b"".join(payloads), dtype=np.uint8)
    ends = np.cumsum(lens)
    heads = (ends - lens)[lens > 0]
    if not (data[heads] == _LEB).all():
        parts = [decode_block(p) for p in payloads]
        counts = np.fromiter(map(len, parts), dtype=np.int64, count=n)
        flat = np.concatenate(parts) if parts else np.empty(0, np.int64)
        return flat.astype(np.int64, copy=False), counts
    body = np.ones(data.size, dtype=bool)
    body[heads] = False  # tag bytes carry no value
    is_end = body & ((data & 0x80) == 0)
    ends_seen = np.concatenate(([0], np.cumsum(is_end)))
    counts = ends_seen[ends] - ends_seen[ends - lens]
    return leb_decode(data[body]), counts
