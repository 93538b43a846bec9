"""Posting-payload codec: LEB128 varbyte behind a 1-byte header, plus the
batch codec of whole postings rows.

Behavioral reference (not a port): the VInt tail of
lucene/core/src/java/org/apache/lucene/codecs/lucene104/Lucene104PostingsFormat.java
(see util.varbyte for the wire format).

Wire format (self-describing, 1 header byte):
  0x01  LEB128 payload follows (util.varbyte wire format)
Any other header byte is rejected.

Two other block codecs were measured and deleted: FOR/PFOR bit-packing
(2.8% LARGER after parquet ZSTD at sf0.1 and 1.3-1.7x slower to decode)
and group varint (1.5x slower and +26% bytes on the 1-byte gaps that
dominate this corpus). Indexes written with them ("adaptive-pfor-v1",
"groupvint-v1") are refused by validate_manifest_codec.

All paths are O(total_bytes) numpy with no per-value Python. Values are
non-negative < 2**63.
"""

from __future__ import annotations

import numpy as np

from lucene_spark.util.varbyte import decode as leb_decode
from lucene_spark.util.varbyte import encode as leb_encode
from lucene_spark.util.varbyte import segmented_delta_encode

CODEC_NAME = "vbyte-v1"

# every manifest['codec'] this module can read
READABLE_CODECS = frozenset({CODEC_NAME})


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
_LEB_PREFIX = bytes([_LEB])


def _leb_lengths(v: np.ndarray) -> np.ndarray:
    """LEB128 byte count of each value of v (uint64)."""
    nbytes = np.ones(v.shape, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while np.any(tmp):
        nbytes += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    return nbytes


def encode_block(values: np.ndarray) -> bytes:
    """Encode a non-negative int array (empty arrays encode to b"")."""
    out = leb_encode(values)
    return _LEB_PREFIX + out if out else b""


def decode_block(buf: bytes) -> np.ndarray:
    """Decode an encode_block payload back into an int64 array."""
    if not buf:
        return np.empty(0, dtype=np.int64)
    mv = memoryview(buf)
    if mv[0] != _LEB:
        raise ValueError(f"unknown block codec tag {mv[0]:#x}")
    return leb_decode(mv[1:])


def encode_blocks(values: np.ndarray, counts: np.ndarray) -> list[bytes]:
    """``encode_block`` of each consecutive segment of ``values`` (segment
    i holds ``counts[i]`` values), byte-identical to encoding them one by
    one: the whole array is encoded in one vectorized pass and cut at the
    segments' byte boundaries (LEB128 encodes every value on its own)."""
    v = np.asarray(values, dtype=np.uint64)
    bounds = np.concatenate(([0], np.cumsum(counts, dtype=np.int64)))
    body = leb_encode(v)
    cuts = np.concatenate(([0], np.cumsum(_leb_lengths(v))))[bounds].tolist()
    return [
        _LEB_PREFIX + body[a:b] if b > a else b""
        for a, b in zip(cuts[:-1], cuts[1:])
    ]


def decode_blocks(payloads) -> tuple[np.ndarray, np.ndarray]:
    """Decode a sequence of ``encode_block`` payloads into one flat int64
    array plus the value count of each payload, in one vectorized pass
    over the joined bytes."""
    n = len(payloads)
    lens = np.fromiter(map(len, payloads), dtype=np.int64, count=n)
    data = np.frombuffer(b"".join(payloads), dtype=np.uint8)
    ends = np.cumsum(lens)
    heads = (ends - lens)[lens > 0]
    bad = data[heads] != _LEB
    if bad.any():
        raise ValueError(f"unknown block codec tag {data[heads][bad][0]:#x}")
    body = np.ones(data.size, dtype=bool)
    body[heads] = False  # tag bytes carry no value
    is_end = body & ((data & 0x80) == 0)
    ends_seen = np.concatenate(([0], np.cumsum(is_end)))
    counts = ends_seen[ends] - ends_seen[ends - lens]
    return leb_decode(data[body]), counts


def runs_cumsum(gaps: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Prefix sums restarted at every segment of ``gaps`` (segment i holds
    counts[i] values, its first gap absolute): the vectorized inverse of
    per-segment delta coding over many segments at once."""
    cs = np.cumsum(gaps, dtype=np.int64)
    before = np.concatenate(([0], cs))[np.cumsum(counts) - counts]
    return cs - np.repeat(before, counts)


def shift_doc_blocks(docs_vb, offset: int) -> list[bytes]:
    """docs_vb payloads with every docID raised by ``offset``, in one
    decode and one encode over the whole batch. Each payload's delta
    chain starts from its absolute first docID, so only that first gap
    moves; byte-identical to re-encoding each payload on its own."""
    gaps, counts = decode_blocks(docs_vb)
    gaps[(np.cumsum(counts) - counts)[counts > 0]] += offset
    return encode_blocks(gaps, counts)


# -- postings rows ----------------------------------------------------------
#
# A postings row (a 256-doc block, or a run before the merge) holds
# per-posting payloads docs_vb (docID gaps restarting per row), tfs_vb
# and norms_b (one norm byte per posting), and per-occurrence payloads
# laid out posting by posting: the (row column, decoded key, delta-coded
# within each posting) table below. decode_postings / encode_postings
# are the only code that knows this layout.

OCC_COLS = (
    ("pos_vb", "pos", True),
    ("offs_vb", "offs", True),   # start offsets
    ("olen_vb", "olen", False),  # end - start
    ("pay_vb", "pay", False),
)
_POSTING_KEYS = frozenset({"docs", "tfs", "norms"})


def decode_postings(rows) -> dict[str, np.ndarray]:
    """Decode a batch of postings rows in one vectorized pass per column.

    ``rows`` maps column -> per-row values (a pandas DataFrame works);
    whichever of docs_vb, tfs_vb, norms_b and the OCC_COLS it holds is
    decoded. Returns flat arrays: 'ndocs' (postings per row); per
    posting 'docs' (absolute docIDs), 'tfs', 'norms'; per occurrence
    'pos', 'offs', 'olen', 'pay'. A row with an empty occurrence payload
    contributes zeros; a column empty in every row is left out."""
    out: dict[str, np.ndarray] = {}
    if "docs_vb" in rows:
        gaps, out["ndocs"] = decode_blocks(rows["docs_vb"])
        out["docs"] = runs_cumsum(gaps, out["ndocs"])
    if "tfs_vb" in rows:
        out["tfs"], ndocs = decode_blocks(rows["tfs_vb"])
        out.setdefault("ndocs", ndocs)
    if "norms_b" in rows:
        out["norms"] = np.frombuffer(b"".join(rows["norms_b"]), dtype=np.uint8)
    for col, key, delta in OCC_COLS:
        if col not in rows:
            continue
        vb = np.asarray(rows[col], dtype=object)
        has = np.fromiter(map(bool, vb), dtype=bool, count=vb.size)
        if not has.any():
            continue
        tfs = out["tfs"]
        post_has = np.repeat(has, out["ndocs"])
        vals, _ = decode_blocks(vb[has])
        if delta:
            vals = runs_cumsum(vals, tfs[post_has])
        if not has.all():
            full = np.zeros(int(tfs.sum()), dtype=np.int64)
            full[np.repeat(post_has, tfs)] = vals
            vals = full
        out[key] = vals
    return out


def keep_postings(p: dict[str, np.ndarray], keep: np.ndarray) -> dict:
    """A decode_postings batch cut to the postings where ``keep`` (one
    bool per posting): per-occurrence arrays are cut by
    np.repeat(keep, tfs), and 'ndocs' is recounted per row (rows may
    drop to 0)."""
    bnd = np.concatenate(([0], np.cumsum(p["ndocs"])))
    out = {"ndocs": np.diff(np.concatenate(([0], np.cumsum(keep)))[bnd])}
    occ_keep = None
    for k, v in p.items():
        if k in _POSTING_KEYS:
            out[k] = v[keep]
        elif k != "ndocs":
            if occ_keep is None:
                occ_keep = np.repeat(keep, p["tfs"])
            out[k] = v[occ_keep]
    return out


def encode_postings(p: dict[str, np.ndarray]) -> dict[str, list[bytes]]:
    """Inverse of decode_postings: one payload per row of p['ndocs']
    (> 0) postings for every key of ``p``, byte-identical to encoding each
    row on its own."""
    n = p["ndocs"]
    tfs = p["tfs"]
    bnd = np.concatenate(([0], np.cumsum(n)))
    out = {
        "docs_vb": encode_blocks(segmented_delta_encode(p["docs"], n), n),
        "tfs_vb": encode_blocks(tfs, n),
    }
    if "norms" in p:
        nb = p["norms"].tobytes()
        out["norms_b"] = [
            nb[a:b] for a, b in zip(bnd[:-1].tolist(), bnd[1:].tolist())
        ]
    occ_n = np.diff(np.concatenate(([0], np.cumsum(tfs)))[bnd])
    for col, key, delta in OCC_COLS:
        if key in p:
            vals = segmented_delta_encode(p[key], tfs) if delta else p[key]
            out[col] = encode_blocks(vals, occ_n)
    return out
