"""Per-shard top-k kernel unit tests against a brute-force scorer,
exercising block boundaries, sub-shard lists, min-should-match and
tie-breaks."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from wikitfidf_spark.index import codec
from wikitfidf_spark.index.query import _taat_kernel


def _make_row(docs, scores, block_size=4):
    # fused row via the production encoder pair (structure, then
    # scores in structure doc order) — same composition as build.py
    order = np.argsort(np.asarray(docs, dtype=np.int64), kind="stable")
    d = np.asarray(docs, dtype=np.int64)[order]
    s = np.asarray(scores, dtype=np.int64)[order]
    st = codec.encode_structure(
        d, np.ones(len(d), np.uint64), np.ones(len(d), np.uint64),
        block_size, presorted=True,
    )
    scores_payload, maxes, score_offs = codec.encode_scores(s, st.block_counts)
    return {
        "n_docs": st.n,
        "block_counts": st.block_counts,
        "block_firsts": st.block_firsts,
        "block_lasts": st.block_lasts,
        "block_max_score": maxes,
        "block_doc_offs": st.block_doc_offs,
        "block_score_offs": score_offs,
        "docs_payload": st.docs_payload,
        "tfs_payload": st.tfs_payload,
        "scores_payload": scores_payload,
    }


def _kernel_top_k(rows, k, mode="OR", msm=0):
    """Run ``_taat_kernel`` for one query over every term in ``rows``
    (term -> fused posting rows, one per sub-shard list) and return
    [(doc_id, score_q)] in rank order."""
    pdf = pd.DataFrame([
        {"shard": 0, "term": t, "sub_shard": i, **r}
        for t, lists in rows.items() for i, r in enumerate(lists)
    ])
    out = _taat_kernel(pdf, [(0, list(rows), mode, k, (), None, None, msm, None)], None)
    return list(zip(out["doc_id"].tolist(), out["score_q"].tolist()))


def _brute(term_lists, k, mode, msm=0):
    # term_lists: term -> [(doc, score)]
    scores = {}
    present = {}
    for t, lst in term_lists.items():
        for d, s in lst:
            scores[d] = scores.get(d, 0) + s
            present.setdefault(d, set()).add(t)
    n = len(term_lists)
    items = [
        (d, s) for d, s in scores.items()
        if (mode == "OR" or len(present[d]) == n) and len(present[d]) >= msm
    ]
    return sorted(items, key=lambda t: (-t[1], t[0]))[:k]


@pytest.mark.parametrize("mode", ["OR", "AND"])
@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_kernel_randomized(mode, seed):
    rng = np.random.RandomState(seed)
    term_lists = {}
    rows = {}
    universe = rng.choice(10_000, size=500, replace=False).astype(np.int64) - 5000
    for t in "abcde":
        n = rng.randint(5, 400)
        docs = np.sort(rng.choice(universe, size=n, replace=False))
        scores = rng.randint(1, 1_000_000, size=n)
        term_lists[t] = list(zip(docs.tolist(), scores.tolist()))
        rows[t] = [_make_row(docs, scores, block_size=int(rng.choice([2, 4, 64])))]
    for k in (1, 5, 50):
        assert _kernel_top_k(rows, k, mode) == _brute(term_lists, k, mode), (mode, seed, k)


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
@pytest.mark.parametrize("msm", [2, 3, 5])
def test_kernel_min_should_match_randomized(seed, msm):
    """msm-constrained OR vs brute force: only docs matching >= msm
    distinct terms qualify; scores stay full OR sums."""
    rng = np.random.RandomState(100 + seed)
    term_lists = {}
    rows = {}
    universe = rng.choice(3_000, size=400, replace=False).astype(np.int64)
    for t in "abcde":
        n = rng.randint(5, 300)
        docs = np.sort(rng.choice(universe, size=n, replace=False))
        scores = rng.randint(1, 1_000_000, size=n)
        term_lists[t] = list(zip(docs.tolist(), scores.tolist()))
        rows[t] = [_make_row(docs, scores, block_size=int(rng.choice([2, 4, 64])))]
    for k in (1, 5, 50):
        got = _kernel_top_k(rows, k, "OR", msm=msm)
        assert got == _brute(term_lists, k, "OR", msm=msm), (seed, msm, k)


def test_kernel_msm_equals_and_at_full_width():
    """msm == n_terms in OR mode selects exactly the AND doc set (and
    scores agree, since AND docs score over every term anyway)."""
    rng = np.random.RandomState(7)
    term_lists, rows = {}, {}
    for t in "abc":
        docs = np.sort(rng.choice(500, size=120, replace=False)).astype(np.int64)
        scores = rng.randint(1, 10**6, size=120)
        term_lists[t] = list(zip(docs.tolist(), scores.tolist()))
        rows[t] = [_make_row(docs, scores)]
    assert _kernel_top_k(rows, 25, "OR", msm=3) == _kernel_top_k(rows, 25, "AND")


def test_kernel_sub_shards_merge():
    """A term split into disjoint sub-lists must behave as one list."""
    rng = np.random.RandomState(9)
    docs = np.sort(rng.choice(5000, size=300, replace=False)).astype(np.int64)
    scores = rng.randint(1, 10**6, size=300)
    whole = {"t": [_make_row(docs, scores)]}
    split = {"t": [
        _make_row(docs[::2], scores[::2]),
        _make_row(docs[1::2], scores[1::2]),
    ]}
    for k in (3, 20):
        assert _kernel_top_k(whole, k, "OR") == _kernel_top_k(split, k, "OR")


def test_tie_break_smallest_doc_wins():
    rows = {"t": [_make_row([5, 1, 9], [7, 7, 7])]}
    assert _kernel_top_k(rows, 2, "OR") == [(1, 7), (5, 7)]


def test_and_requires_all_terms():
    rows = {
        "a": [_make_row([1, 2, 3], [10, 10, 10])],
        "b": [_make_row([2, 3, 4], [5, 5, 5])],
    }
    assert _kernel_top_k(rows, 10, "AND") == [(2, 15), (3, 15)]


def test_merged_lists_pairs_union_halves():
    """_merged_lists: fused rows pass through; a structure half and a
    score half for the same (term, sub_shard) pair up by merge; an
    unpaired half is dropped (vectorized rewrite, r5)."""
    import pandas as pd

    from wikitfidf_spark.index.query import _merged_lists

    full = _make_row([1, 2, 3], [10, 20, 30])
    full.pop("tfs_payload")
    struct_cols = ["n_docs", "docs_payload", "block_firsts",
                   "block_lasts", "block_counts", "block_doc_offs"]
    score_cols = ["scores_payload", "block_max_score", "block_score_offs"]

    def half(row, keep):
        return {k: (v if k in keep else None) for k, v in row.items()}

    # fused row for term a; split halves for term b; orphan half for c
    rows = []
    rows.append({"shard": 0, "term": "a", "sub_shard": 0, **full})
    b = _make_row([4, 5], [7, 8]); b.pop("tfs_payload")
    rows.append({"shard": 0, "term": "b", "sub_shard": 1, **half(b, struct_cols)})
    rows.append({"shard": 0, "term": "b", "sub_shard": 1, **half(b, score_cols)})
    c = _make_row([9], [1]); c.pop("tfs_payload")
    rows.append({"shard": 0, "term": "c", "sub_shard": 0, **half(c, struct_cols)})
    got = _merged_lists(pd.DataFrame(rows))
    by_term = {r["term"]: r for r in got}
    assert set(by_term) == {"a", "b"}  # orphan c dropped
    for t, src in (("a", full), ("b", b)):
        r = by_term[t]
        docs, scores = codec.decode_docs_scores(r)
        edocs, escores = codec.decode_docs_scores(src)
        assert docs.tolist() == edocs.tolist()
        assert scores.tolist() == escores.tolist()

    # all-fused fast path: identical content, passthrough
    fused_only = pd.DataFrame(rows[:1])
    assert len(_merged_lists(fused_only)) == 1
