"""Per-shard top-k kernel unit tests against a brute-force scorer,
exercising block boundaries, sub-shard lists, min-should-match and
tie-breaks."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from wikitfidf_spark.index import codec, query
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


def _brute(term_lists, k, mode, msm=0, boosts=None, banned=(), after=None, allowed=None):
    # term_lists: term -> [(doc, score)]; banned: docs a must-not term
    # or exclude_docs drops; after: search_after (score, doc) cursor;
    # allowed: the only docs that may match (None = all)
    scores = {}
    present = {}
    for t, lst in term_lists.items():
        for d, s in lst:
            scores[d] = scores.get(d, 0) + s * (boosts or {}).get(t, 1)
            present.setdefault(d, set()).add(t)
    n = len(term_lists)
    items = [
        (d, s) for d, s in scores.items()
        if (mode == "OR" or len(present[d]) == n) and len(present[d]) >= msm
        and d not in banned and (allowed is None or d in allowed)
        and (after is None or s < after[0] or (s == after[0] and d > after[1]))
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
    struct_cols = ["n_docs", "docs_payload", "block_firsts", "block_counts"]
    score_cols = ["scores_payload", "block_max_score"]

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
    by_term = {r["term"]: r for r in got.to_dict("records")}
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


def _random_batch(rng, term_lists, universe, n_queries):
    """A batch mixing OR / AND / min_should_match, boosts (a few large
    enough to overflow the one-key top-k sort), must-not terms,
    exclude_docs, search_after and offset-widened k, as kernel qspec
    tuples plus the brute-force arguments of each query."""
    vocab = sorted(term_lists) + ["absent"]
    spec, brute = [], []
    for qid in range(n_queries):
        terms = [vocab[i] for i in rng.randint(0, len(vocab), size=rng.randint(1, 5))]
        uniq = sorted(set(terms))
        mode = "AND" if rng.rand() < 0.3 else "OR"
        msm = int(rng.randint(0, len(uniq) + 1)) if mode == "OR" and rng.rand() < 0.3 else 0
        boosts = None
        if rng.rand() < 0.3:
            scale = 2**40 if rng.rand() < 0.1 else 1
            boosts = {t: int(rng.randint(1, 6)) * scale for t in uniq}
        rest = [t for t in vocab if t not in uniq]
        exclude = tuple(rng.choice(rest, size=rng.randint(1, 3), replace=False)) \
            if rng.rand() < 0.2 else ()
        excl_docs = np.sort(rng.choice(universe, size=20, replace=False)) \
            if rng.rand() < 0.2 else None
        banned = {d for t in exclude for d, _ in term_lists.get(t, [])}
        banned |= set(excl_docs.tolist()) if excl_docs is not None else set()
        lists = {t: term_lists.get(t, []) for t in uniq}
        k = int(rng.randint(1, 15)) + int(rng.randint(0, 10))  # k + offset
        after = None
        if rng.rand() < 0.15:
            ranked = _brute(lists, 10**9, mode, msm, boosts, banned)
            if ranked:
                d, sc = ranked[int(rng.randint(0, len(ranked)))]
                after = (int(sc), int(d))
        spec.append((qid, terms, mode, k, exclude, boosts, excl_docs, msm, after))
        brute.append((lists, k, mode, msm, boosts, banned, after))
    return spec, brute


def _by_query(out):
    got = {}
    for qid, d, sc in zip(out["query_id"].tolist(), out["doc_id"].tolist(),
                          out["score_q"].tolist()):
        got.setdefault(qid, []).append((d, sc))
    return {q: sorted(v, key=lambda t: (-t[1], t[0])) for q, v in got.items()}


@pytest.mark.parametrize("masking", ["none", "shard", "per_query"])
def test_whole_batch_kernel_differential(monkeypatch, masking):
    """One 320-query batch through the whole-batch kernel, split over
    at least 3 scoring chunks, equals _brute run per query: with no
    mask, a shard-wide allowed mask (predicate filter), and per-query
    allowed sets (the phrase batch)."""
    rng = np.random.RandomState(2024)
    universe = np.unique(rng.randint(-(2**62), 2**62, size=700, dtype=np.int64))
    term_lists, lists_rows = {}, []
    for t in "abcdefgh":
        docs = np.sort(rng.choice(universe, size=rng.randint(1, 350), replace=False))
        scores = rng.randint(0, 10**6, size=len(docs))
        term_lists[t] = list(zip(docs.tolist(), scores.tolist()))
        # some terms arrive as two doc-disjoint sub-shard lists
        parts = [slice(0, None)] if rng.rand() < 0.5 else [slice(0, None, 2), slice(1, None, 2)]
        for i, sl in enumerate(parts):
            if len(docs[sl]):
                row = _make_row(docs[sl], scores[sl], block_size=int(rng.choice([1, 4, 128])))
                lists_rows.append({"shard": 0, "term": t, "sub_shard": i, **row})
    pdf = pd.DataFrame(lists_rows).sample(frac=1.0, random_state=1)
    spec, brute = _random_batch(rng, term_lists, universe, 320)

    chunk = 512
    monkeypatch.setattr(query, "_CHUNK_POSTINGS", chunk)
    gathered = sum(len(term_lists.get(t, [])) for _, terms, *_ in spec for t in set(terms))
    assert gathered >= 3 * chunk

    allowed_u, per_query = None, None
    if masking == "shard":
        allowed_u = np.sort(rng.choice(universe, size=450, replace=False))
    elif masking == "per_query":
        per_query = [np.sort(rng.choice(universe, size=rng.randint(0, 500), replace=False))
                     for _ in spec]
    got = _by_query(_taat_kernel(pdf, spec, allowed_u, per_query))
    for i, (qid, *_rest) in enumerate(spec):
        allowed = set(allowed_u.tolist()) if allowed_u is not None else (
            set(per_query[i].tolist()) if per_query is not None else None)
        lists, k, mode, msm, boosts, banned, after = brute[i]
        want = _brute(lists, k, mode, msm, boosts, banned, after, allowed)
        assert got.get(qid, []) == want, (masking, spec[i])
