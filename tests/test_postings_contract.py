"""Postings format contract (BasePostingsFormatTestCase /
RandomPostingsTester analog, lucene/test-framework/.../index/
BasePostingsFormatTestCase.java:121-1773): random posting lists pushed
through the ACTUAL builder kernels — run flush encode, run merge,
256-block encode — must decode back exactly, including ghosts
(empty), singletons, dense/sparse docIDs, big tfs, and multi-run
merges with disjoint doc ranges. The merge kernel is the streaming
mapInPandas kernel of merge_postings, fed pandas frames the way Arrow
batches arrive: groups straddling batch boundaries, several groups per
batch, salted groups, and the mixed-payload guards. Pure kernels, no
Spark session."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from lucene_spark.index.builder import (
    BLOCK_SIZE,
    MERGE_COLS,
    _merge_postings_kernel,
)
from lucene_spark.util.blockcodec import decode_block as decode
from lucene_spark.util.blockcodec import encode_block as encode
from lucene_spark.util.varbyte import (
    delta_decode,
    delta_encode,
    segmented_delta_decode,
    segmented_delta_encode,
)


def _make_run(doc_ids, tfs, norms, positions_flat, term="t", salt=0):
    d = np.asarray(doc_ids, dtype=np.int64)
    t = np.asarray(tfs, dtype=np.int64)
    nb = np.asarray(norms, dtype=np.uint8)
    p = np.asarray(positions_flat, dtype=np.int64)
    return {
        "term": term,
        "salt": salt,
        "first_doc": int(d[0]),
        "docs_vb": encode(delta_encode(d)),
        "tfs_vb": encode(t),
        "norms_b": nb.tobytes(),
        "pos_vb": encode(segmented_delta_encode(p, t)),
        "offs_vb": b"",
        "olen_vb": b"",
        "pay_vb": b"",
    }


def _merge(rows, batch_rows: int = 10_000) -> pd.DataFrame:
    """Run the merge kernel over ``rows`` cut into frames of
    ``batch_rows`` rows (the Arrow batch size)."""
    pdf = pd.DataFrame(rows)[MERGE_COLS].reset_index(drop=True)
    frames = [pdf.iloc[i:i + batch_rows] for i in range(0, len(pdf), batch_rows)]
    return pd.concat(list(_merge_postings_kernel(iter(frames))), ignore_index=True)


posting_lists = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=50),      # docID gap
        st.integers(min_value=1, max_value=300),     # tf
        st.integers(min_value=0, max_value=255),     # norm byte
    ),
    min_size=1,
    max_size=700,
)


@given(posting_lists, st.integers(min_value=1, max_value=4))
@settings(max_examples=60, deadline=None)
def test_run_merge_block_roundtrip(entries, n_runs):
    rng = np.random.RandomState(7)
    gaps = np.array([e[0] for e in entries], dtype=np.int64)
    doc_ids = np.cumsum(gaps)
    tfs = np.array([e[1] for e in entries], dtype=np.int64)
    norms = np.array([e[2] for e in entries], dtype=np.uint8)
    # positions: per doc, sorted increasing, tf of them
    pos_flat = np.concatenate(
        [np.cumsum(rng.randint(1, 9, size=int(f))) for f in tfs]
    )

    # split into n_runs contiguous chunks (disjoint ascending doc ranges,
    # exactly what per-range flushes produce)
    cuts = sorted(rng.choice(np.arange(1, len(doc_ids)), size=min(n_runs - 1, len(doc_ids) - 1), replace=False)) if len(doc_ids) > 1 and n_runs > 1 else []
    bounds = [0, *cuts, len(doc_ids)]
    pos_ends = np.cumsum(tfs)
    runs = []
    for a, b in zip(bounds[:-1], bounds[1:]):
        p0 = pos_ends[a - 1] if a else 0
        runs.append(
            _make_run(doc_ids[a:b], tfs[a:b], norms[a:b], pos_flat[p0:pos_ends[b - 1]])
        )
    pdf = pd.DataFrame(runs).sample(frac=1.0, random_state=3)  # shuffle row order

    blocks = _merge(pdf)

    # decode all blocks back, in block_seq order
    got_d, got_t, got_n, got_p = [], [], [], []
    for r in blocks.sort_values("block_seq").itertuples():
        d = delta_decode(decode(r.docs_vb))
        t = decode(r.tfs_vb)
        assert d.size == r.ndocs <= BLOCK_SIZE
        assert d[0] == r.min_doc and d[-1] == r.max_doc
        assert t.max() == r.max_tf
        nb = np.frombuffer(r.norms_b, dtype=np.uint8)
        assert nb.min() == r.min_norm
        got_d.append(d)
        got_t.append(t)
        got_n.append(nb)
        got_p.append(segmented_delta_decode(decode(r.pos_vb), t))
    assert (np.concatenate(got_d) == doc_ids).all()
    assert (np.concatenate(got_t) == tfs).all()
    assert (np.concatenate(got_n) == norms).all()
    assert (np.concatenate(got_p) == pos_flat).all()


def test_singleton_and_ghost_runs():
    # singleton posting
    run = _make_run([5], [1], [7], [3])
    blocks = _merge([run])
    assert len(blocks) == 1 and blocks.iloc[0]["ndocs"] == 1
    assert delta_decode(decode(blocks.iloc[0]["docs_vb"])).tolist() == [5]
    # huge docID (10^12-file scale)
    big = 10**12 + 17
    run2 = _make_run([big], [2], [0], [1, 4])
    b2 = _merge([run2])
    assert b2.iloc[0]["min_doc"] == big == b2.iloc[0]["max_doc"]


def _group_runs(rng, term, salt, first_doc, n_docs, n_runs):
    """Runs of one (term, salt) group over ``n_docs`` postings from
    ``first_doc`` on, split into ``n_runs`` disjoint ascending runs, plus
    the group's expected flat (docs, tfs, norms, positions)."""
    d = first_doc + np.cumsum(rng.randint(1, 20, size=n_docs)).astype(np.int64)
    t = rng.randint(1, 6, size=n_docs).astype(np.int64)
    nb = rng.randint(0, 256, size=n_docs).astype(np.uint8)
    p = np.concatenate([np.cumsum(rng.randint(1, 9, size=int(k))) for k in t])
    cuts = np.linspace(0, n_docs, n_runs + 1).astype(int)
    ends = np.cumsum(t)
    runs = []
    for a, b in zip(cuts[:-1], cuts[1:]):
        if a == b:
            continue
        o0 = ends[a - 1] if a else 0
        runs.append(
            _make_run(d[a:b], t[a:b], nb[a:b], p[o0:ends[b - 1]], term, salt)
        )
    return runs, (d, t, nb, p)


def _decode_groups(blocks: pd.DataFrame) -> dict:
    """(term, salt) -> flat (docs, tfs, norms, positions) decoded from
    the kernel's blocks, checking block_seq runs 0, 1, 2, ... per group."""
    out = {}
    for (term, salt), g in blocks.groupby(["term", "salt"], sort=False):
        assert g["block_seq"].tolist() == list(range(len(g)))
        ts = [decode(x) for x in g["tfs_vb"]]
        out[(term, int(salt))] = (
            np.concatenate([delta_decode(decode(x)) for x in g["docs_vb"]]),
            np.concatenate(ts),
            np.concatenate([np.frombuffer(x, dtype=np.uint8) for x in g["norms_b"]]),
            np.concatenate(
                [segmented_delta_decode(decode(x), t) for x, t in zip(g["pos_vb"], ts)]
            ),
        )
    return out


def _corpus(seed=11):
    """Several terms, a hot one salted into three doc ranges (salt > 0),
    groups of one to several runs and of under and over one block."""
    rng = np.random.RandomState(seed)
    rows, expected = [], {}
    spec = [
        ("alpha", 0, 0, 3, 1),
        ("beta", 0, 0, 300, 4),
        ("hot", 0, 0, 600, 3),
        ("hot", 1, 100_000, 257, 2),
        ("hot", 2, 200_000, 40, 5),
        ("omega", 0, 0, 1, 1),
    ]
    for term, salt, first, n_docs, n_runs in spec:
        runs, exp = _group_runs(rng, term, salt, first, n_docs, n_runs)
        rows.extend(runs)
        expected[(term, salt)] = exp
    return rows, expected


@pytest.mark.parametrize("batch_rows", [1, 2, 3, 10_000])
def test_groups_straddle_batch_boundaries(batch_rows):
    """Batches of 1-3 rows cut through every multi-run group; one big
    batch holds every group. All must give the same blocks, in
    (term, salt, block_seq) order, decoding to each group's postings."""
    rows, expected = _corpus()
    blocks = _merge(rows, batch_rows)
    whole = _merge(rows)
    pd.testing.assert_frame_equal(blocks, whole)
    keys = list(zip(blocks["term"], blocks["salt"], blocks["block_seq"]))
    assert keys == sorted(keys)
    got = _decode_groups(blocks)
    assert set(got) == set(expected)
    for key, exp in expected.items():
        for g, e in zip(got[key], exp):
            assert (g == e).all(), key
    for r in blocks.itertuples():
        d = delta_decode(decode(r.docs_vb))
        t = decode(r.tfs_vb)
        nb = np.frombuffer(r.norms_b, dtype=np.uint8)
        assert d.size == r.ndocs <= BLOCK_SIZE
        assert (d[0], d[-1]) == (r.min_doc, r.max_doc)
        assert (t.max(), t.min()) == (r.max_tf, r.min_tf)
        assert (nb.min(), nb.max()) == (r.min_norm, r.max_norm)


def test_several_groups_in_one_batch():
    rows, expected = _corpus()
    blocks = _merge(rows)
    # one batch in: its complete groups come out of one merge call, the
    # trailing group (it could continue in a next batch) at end of input
    frames = list(_merge_postings_kernel(iter([pd.DataFrame(rows)[MERGE_COLS]])))
    assert len(frames) == 2
    assert set(zip(frames[0]["term"], frames[0]["salt"])) == set(expected) - {("omega", 0)}
    assert blocks["term"].nunique() == 4
    n_blocks = blocks.groupby(["term", "salt"]).size().to_dict()
    assert n_blocks == {
        (t, s): -(-len(e[0]) // BLOCK_SIZE) for (t, s), e in expected.items()
    }


def test_salted_groups_keep_their_salt():
    rows, expected = _corpus()
    blocks = _merge(rows, 2)
    hot = blocks[blocks["term"] == "hot"]
    assert sorted(set(hot["salt"])) == [0, 1, 2]
    for salt in (1, 2):
        g = hot[hot["salt"] == salt]
        assert g["min_doc"].min() == expected[("hot", salt)][0][0]
        assert g["block_seq"].tolist() == list(range(len(g)))


@pytest.mark.parametrize(
    "col,label", [("pos_vb", "positions"), ("offs_vb", "offsets"), ("pay_vb", "payloads")]
)
@pytest.mark.parametrize("batch_rows", [1, 10_000])
def test_mixed_payload_runs_raise(col, label, batch_rows):
    """A group where only SOME runs carry an occurrence payload would be
    misaligned on merge: the kernel refuses it, also when the group
    straddles batches."""
    rng = np.random.RandomState(5)
    runs, _ = _group_runs(rng, "mixed", 0, 0, 30, 3)
    for r in runs:
        r["olen_vb"] = r["offs_vb"] = r["pay_vb"] = r["pos_vb"]
    runs[1][col] = b""
    if col == "offs_vb":
        runs[1]["olen_vb"] = b""
    other, _ = _group_runs(rng, "fine", 0, 0, 5, 1)
    with pytest.raises(ValueError, match=f"2/3 runs carry {label}"):
        _merge(other + runs, batch_rows)
