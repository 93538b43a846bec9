"""Block codec contract: LEB128 round-trip behind the 1-byte header,
header dispatch, and the batched encode_blocks / decode_blocks paths
byte-identical to per-payload encode_block / decode_block."""

import numpy as np
import pytest

from lucene_spark.util.blockcodec import (
    _LEB,
    decode_block,
    decode_blocks,
    encode_block,
    encode_blocks,
    shift_doc_blocks,
)
from lucene_spark.util.varbyte import delta_encode
from lucene_spark.util.varbyte import encode as leb_encode


def test_empty():
    assert encode_block(np.array([], dtype=np.int64)) == b""
    assert decode_block(b"").size == 0


@pytest.mark.parametrize("batched", [False, True])
@pytest.mark.parametrize("seed", range(6))
def test_random_roundtrip(batched, seed):
    """Per payload, or (batched) many payloads at once through
    encode_blocks / decode_blocks, which must match per-payload
    encode_block byte for byte."""
    rng = np.random.default_rng(seed)
    arrays = []
    for _ in range(50):
        n = int(rng.integers(0 if batched else 1, 400))
        kind = int(rng.integers(0, 3))
        if kind == 0:
            v = rng.integers(0, 2, n)
        elif kind == 1:
            v = rng.integers(0, 1 << 20, n)
        else:
            v = rng.integers(0, 1 << 62, n)
        arrays.append(v.astype(np.int64))
    if not batched:
        for v in arrays:
            assert (decode_block(encode_block(v)) == v).all()
        return
    counts = np.array([a.size for a in arrays])
    enc = encode_blocks(np.concatenate(arrays), counts)
    assert enc == [encode_block(v) for v in arrays]
    flat, got_counts = decode_blocks(enc)
    assert (got_counts == counts).all()
    assert (flat == np.concatenate(arrays)).all()


@pytest.mark.parametrize("offset", [0, 1, 127, 1 << 40])
def test_shift_doc_blocks_matches_per_row(offset):
    """add_indexes' docID rebase over a batch of 1-, 2- and 256-doc
    blocks equals re-encoding each block with its first gap raised."""
    rng = np.random.default_rng(offset % 97)
    blocks = []
    for n in (1, 2, 256, 1, 256, 2):
        docs = np.sort(rng.choice(1 << 20, n, replace=False))
        blocks.append(encode_block(delta_encode(docs)))
    want = []
    for b in blocks:
        gaps = decode_block(b)
        gaps[0] += offset
        want.append(encode_block(gaps))
    assert shift_doc_blocks(blocks, offset) == want


def test_vbyte_mode_emits_leb_header():
    v = np.arange(10)
    out = encode_block(v)
    assert out[0] == _LEB
    assert out[1:] == leb_encode(v)
    assert (decode_block(out) == v).all()


def test_unknown_tag_rejected():
    with pytest.raises(ValueError, match="unknown block codec"):
        decode_block(b"\x7fjunk")
    # the batched path checks every payload's header too (0x02 was the
    # deleted FOR/PFOR tag)
    with pytest.raises(ValueError, match="unknown block codec"):
        decode_blocks([encode_block(np.arange(3)), b"\x02junk"])


def test_legacy_manifest_without_codec_fails_fast(spark, built_index, tmp_path):
    """Opening an index whose manifest predates the self-describing block
    codec (no 'codec' key) must raise clearly instead of silently
    misdecoding raw-varbyte payloads whose first LEB byte is 0x01."""
    import json
    import os
    import shutil

    from lucene_spark.search.engine import IndexSearcher
    from lucene_spark.util.blockcodec import validate_manifest_codec

    _, _, searcher = built_index
    legacy = str(tmp_path / "legacy_idx")
    shutil.copytree(searcher.index_dir, legacy)
    mpath = os.path.join(legacy, "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    m.pop("codec")
    with open(mpath, "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="rebuild required"):
        IndexSearcher(spark, legacy)
    with pytest.raises(ValueError, match="not readable"):
        validate_manifest_codec({"codec": "future-v9"})
    with pytest.raises(ValueError, match="not readable"):
        validate_manifest_codec({"codec": "groupvint-v1"})
    # the untouched index still opens
    assert IndexSearcher(spark, searcher.index_dir).doc_count > 0
