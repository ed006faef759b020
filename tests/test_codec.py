"""Posting-list codec: round-trip + block-level properties."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from wikitfidf_spark.index import codec


def _encode_row(docs, tfs, scores, block_size):
    """Fused row via the PRODUCTION encoder pair (structure first, then
    scores in the structure's doc order) — the same composition
    build.py's encode_structure_df performs."""
    order = np.argsort(np.asarray(docs, dtype=np.int64), kind="stable")
    d = np.asarray(docs, dtype=np.int64)[order]
    t = np.asarray(tfs, dtype=np.uint64)[order]
    s = np.asarray(scores, dtype=np.int64)[order]
    st = codec.encode_structure(
        d, t, np.ones(len(d), np.uint64), block_size, presorted=True
    )
    scores_payload, maxes = codec.encode_scores(s, st.block_counts)
    return {
        "n_docs": st.n,
        "block_counts": st.block_counts,
        "block_firsts": st.block_firsts,
        "block_max_score": maxes,
        "docs_payload": st.docs_payload,
        "tfs_payload": st.tfs_payload,
        "scores_payload": scores_payload,
    }


def _roundtrip(docs, tfs, scores, block_size):
    row = _encode_row(docs, tfs, scores, block_size)
    return row, codec.decode_rows({c: [v] for c, v in row.items()}, "docs", "tfs", "scores")


def test_roundtrip_random():
    rng = np.random.RandomState(7)
    for block in (4, 128):
        docs = np.unique(rng.randint(-(2**62), 2**62, size=1500).astype(np.int64))
        rng.shuffle(docs)
        tfs = rng.randint(1, 999, size=len(docs)).astype(np.int64)
        scores = rng.randint(0, 10**8, size=len(docs)).astype(np.int64)
        _, (d, t, s) = _roundtrip(docs, tfs, scores, block)
        order = np.argsort(docs, kind="stable")
        assert np.array_equal(d, docs[order])
        assert np.array_equal(t, tfs[order])
        assert np.array_equal(s, scores[order])


def test_block_sidecars():
    rng = np.random.RandomState(3)
    docs = np.unique(rng.randint(-(2**40), 2**40, size=700).astype(np.int64))
    tfs = np.ones(len(docs), dtype=np.int64)
    scores = rng.randint(0, 10**6, size=len(docs)).astype(np.int64)
    enc, _ = _roundtrip(docs, tfs, scores, 128)
    srt = np.sort(docs)
    starts = np.arange(0, len(docs), 128)
    assert np.array_equal(enc["block_firsts"], srt[starts])
    assert np.array_equal(enc["block_counts"], np.diff(np.append(starts, len(docs))))
    # block max scores
    order = np.argsort(docs, kind="stable")
    s_sorted = scores[order]
    for i, a in enumerate(starts):
        b = min(a + 128, len(docs))
        assert enc["block_max_score"][i] == s_sorted[a:b].max()


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300))
def test_varint_property(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(codec.varint_decode(codec.varint_encode(arr), len(arr)), arr)


def test_signed_unsigned_order_preserving():
    xs = np.array([-(2**63), -1, 0, 1, 2**63 - 1], dtype=np.int64)
    u = codec.to_unsigned(xs)
    assert np.array_equal(np.argsort(u), np.arange(len(xs)))
    assert np.array_equal(codec.to_signed(u), xs)


def _rows_frame(rng, block_size):
    """Random posting rows (several per term, as sub-shard lists arrive)
    including single-posting lists and doc ids at the int64 edges."""
    import pandas as pd

    rows = []
    for i in range(40):
        n = 1 if i % 5 == 0 else int(rng.randint(2, 400))
        docs = rng.randint(-(2**63), 2**63 - 1, size=n, dtype=np.int64)
        if i % 3 == 0:
            docs[0] = -(2**63)
        if i % 4 == 0:
            docs[-1] = 2**63 - 1
        docs = np.unique(docs)
        row = _encode_row(docs, np.ones(len(docs), np.int64),
                          rng.randint(0, 10**9, size=len(docs)), block_size)
        rows.append({"term": f"t{rng.randint(0, 12)}", **row})
    return pd.DataFrame(rows)


@pytest.mark.parametrize("block_size", [1, 2, 128])
def test_decode_rows_equals_per_row(block_size):
    rng = np.random.RandomState(block_size)
    frame = _rows_frame(rng, block_size)
    docs, scores, spans = codec.decode_docs_scores_rows(frame)
    rows = frame.to_dict("records")
    assert sorted(spans) == sorted({r["term"] for r in rows})
    pos = 0
    for term in sorted(spans):
        # a term's rows, in input order, fill its span back to back
        parts = [codec.decode_docs_scores(r) for r in rows if r["term"] == term]
        lo, hi = spans[term]
        assert lo == pos
        assert np.array_equal(docs[lo:hi], np.concatenate([d for d, _ in parts]))
        assert np.array_equal(scores[lo:hi], np.concatenate([s for _, s in parts]))
        pos = hi
    assert pos == len(docs) == len(scores)


@pytest.mark.parametrize("stream", ["docs_payload", "scores_payload"])
@pytest.mark.parametrize("row", [0, 7, -1])
def test_decode_rows_truncated_payload_raises(stream, row):
    """A row missing its last byte (mid-stream, where the next row's
    bytes would otherwise complete it, or at the end) is rejected."""
    frame = _rows_frame(np.random.RandomState(5), 128)
    frame.at[frame.index[row], stream] = frame[stream].iloc[row][:-1]
    with pytest.raises(ValueError):
        codec.decode_docs_scores_rows(frame)


def test_decode_rows_block_sidecar_mismatch_raises():
    """Rows whose block_firsts and block_counts differ in length are
    rejected even when the totals across rows agree: one row with an
    extra first and the next one missing one used to decode into
    shifted doc ids without an error."""
    frame = _rows_frame(np.random.RandomState(11), 128)
    a = _encode_row(np.array([1, 5, 9, 12]), np.ones(4), np.ones(4), 128)
    b = _encode_row(np.array([100, 200, 300]), np.ones(3), np.ones(3), 128)
    a["block_firsts"] = np.append(a["block_firsts"], 777)
    b["block_firsts"] = b["block_firsts"][:0]
    for rows in ([a, b], [*frame.drop(columns="term").to_dict("records"), a, b]):
        cols = {c: [r[c] for r in rows] for c in a}
        with pytest.raises(ValueError, match="block_firsts"):
            codec.decode_rows(cols, "docs")
        with pytest.raises(ValueError, match="block_firsts"):
            codec.decode_docs_scores_rows({"term": ["t"] * len(rows), **cols})
