"""Posting-list codec: delta + varint, block-max metadata, numpy-vectorized.

Generalization layer demanded by BASELINE.json:north_rule ("per-partition
posting lists (docID-sorted, delta+varint compressed with block-max
metadata)").  No reference counterpart — the reference's closest
analogue is its zero-padded-filename ordering trick
(/root/reference/internal/dumpreducer/dumpreducer.go:86,
internal/utils/filesindir.go:27); design follows the public IR
literature (Ding & Suel, SIGIR 2011 block-max indexes).

Layout per posting list (one list = one (term, sub_shard) within a
doc-partitioned shard):

- doc_ids: signed int64 (xxhash64-derived), mapped order-preserving to
  uint64 (x XOR 2^63), sorted, split into blocks of ``block_size``.
  Each block's first value is stored in the ``block_firsts`` sidecar
  array and its length in ``block_counts``; the delta stream holds
  d[0]=0, d[j]=doc[j]-doc[j-1] within the block.
- tfs, doc lengths and quantized impact scores: plain varint streams,
  one value per posting in doc order.
- block_max_score (int64 quantized, so a block-max pruning bound
  compares exactly against integer score sums).

Everything is numpy array code — no per-element Python in encode/decode.
Every reader decodes through :func:`decode_rows`: many rows at once,
one varint pass per stream over the joined payloads, not one per row.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

BLOCK_SIZE_DEFAULT = 128
_SIGN_FLIP = np.uint64(1) << np.uint64(63)


def to_unsigned(doc_ids: np.ndarray) -> np.ndarray:
    """Order-preserving int64 -> uint64 (flip sign bit)."""
    return doc_ids.astype(np.int64).view(np.uint64) ^ _SIGN_FLIP


def to_signed(u: np.ndarray) -> np.ndarray:
    return (u ^ _SIGN_FLIP).view(np.int64)


def varint_lengths(values: np.ndarray) -> np.ndarray:
    """Encoded byte length per value (vectorized)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    lens = np.ones(len(v), dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        lens += (tmp > 0)
        tmp >>= np.uint64(7)
    return lens


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-style varint for a uint64 array, vectorized."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b""
    lens = varint_lengths(v)
    total = int(lens.sum())
    out = np.zeros(total, dtype=np.uint8)
    offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
    cur = v.copy()
    remaining = lens.copy()
    while True:
        m = remaining > 0
        if not m.any():
            break
        idx = offs[m]
        byte = (cur[m] & np.uint64(0x7F)).astype(np.uint8)
        byte |= ((remaining[m] > 1).astype(np.uint8) << 7)
        out[idx] = byte
        cur[m] >>= np.uint64(7)
        offs[m] += 1
        remaining[m] -= 1
    return out.tobytes()


def varint_decode(buf: bytes | memoryview, n: int) -> np.ndarray:
    """Decode n varints from buf, which must hold exactly n terminated
    varints."""
    return _varint_decode_rows([buf], np.array([n]))


@dataclass
class EncodedStructure:
    """The score-free two-thirds of a posting list: doc ids, tfs and doc
    lengths.  Everything here depends ONLY on the documents of its own
    shard — global stats (df, n_docs, avgdl) never enter — so an
    incremental update re-encodes structure solely for shards whose doc
    set changed.  Scores (idf/avgdl-dependent, hence invalidated by ANY
    corpus change) live in a separate stream encoded by
    :func:`encode_scores` from the decoded tfs/dls."""
    n: int
    docs_payload: bytes
    tfs_payload: bytes
    dls_payload: bytes
    block_firsts: np.ndarray
    block_counts: np.ndarray


def encode_structure(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    block_size: int = BLOCK_SIZE_DEFAULT,
    presorted: bool = False,
) -> EncodedStructure:
    """Vectorized encode of the global-stat-free streams (docs delta +
    varint, tfs varint, doc-lens varint) with the block layout."""
    if presorted:
        d = np.ascontiguousarray(doc_ids, dtype=np.int64)
        t = np.ascontiguousarray(tfs, dtype=np.uint64)
        l = np.ascontiguousarray(dls, dtype=np.uint64)
    else:
        order = np.argsort(doc_ids, kind="stable")
        d = np.asarray(doc_ids, dtype=np.int64)[order]
        t = np.asarray(tfs, dtype=np.uint64)[order]
        l = np.asarray(dls, dtype=np.uint64)[order]
    n = len(d)
    u = to_unsigned(d)
    n_blocks = (n + block_size - 1) // block_size
    starts = np.arange(n_blocks) * block_size
    ends = np.minimum(starts + block_size, n)
    deltas = np.empty(n, dtype=np.uint64)
    deltas[1:] = u[1:] - u[:-1]
    deltas[starts] = 0
    return EncodedStructure(
        n=n,
        docs_payload=varint_encode(deltas),
        tfs_payload=varint_encode(t),
        dls_payload=varint_encode(l),
        block_firsts=d[starts],
        block_counts=(ends - starts).astype(np.int32),
    )


def encode_scores(
    scores_q: np.ndarray, block_counts: np.ndarray
) -> tuple[bytes, np.ndarray]:
    """Encode the score stream for an existing structure's blocking:
    (scores_payload, block_max_score).  ``scores_q`` must be in the
    structure's doc order."""
    s = np.ascontiguousarray(scores_q, dtype=np.uint64)
    counts = np.asarray(block_counts, dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1])).astype(np.int64)
    maxes = (
        np.maximum.reduceat(s.view(np.int64), starts)
        if len(s)
        else np.zeros(0, np.int64)
    )
    return varint_encode(s), maxes.astype(np.int64)


def _varint_decode_rows(payloads: list, counts: np.ndarray) -> np.ndarray:
    """Decode the concatenation of several rows' varint streams in one
    pass.  Each row must end on a varint terminator and hold exactly
    its count of varints — otherwise a truncated row would silently
    borrow bytes from the next one — so both are checked per row."""
    lens = np.fromiter(map(len, payloads), dtype=np.int64, count=len(payloads))
    b = np.frombuffer(b"".join(payloads), dtype=np.uint8)
    ends = np.flatnonzero(b < 0x80)  # last byte of each varint
    byte_ends = np.cumsum(lens)
    # varints ending before each row's end, and each row's last byte
    if (b[byte_ends[lens > 0] - 1] >= 0x80).any() or (
        np.searchsorted(ends, byte_ends) != np.cumsum(counts)
    ).any():
        raise ValueError("varint payload does not match its row's posting count")
    if not len(ends):
        return np.zeros(0, dtype=np.uint64)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    v_lens = ends - starts + 1
    if v_lens.max() > 10:
        raise ValueError("varint longer than 10 bytes")
    # each byte's 7 payload bits shifted to its place in its varint,
    # then OR-ed together per varint
    shift = np.arange(len(b), dtype=np.uint64) - np.repeat(starts, v_lens).astype(np.uint64)
    return np.bitwise_or.reduceat(
        (b & 0x7F).astype(np.uint64) << (np.uint64(7) * shift), starts
    )


#: stream name -> payload column, as build.py writes them
_PAYLOADS = {
    "docs": "docs_payload",
    "tfs": "tfs_payload",
    "dls": "dls_payload",
    "scores": "scores_payload",
}


def decode_rows(rows, *streams: str) -> tuple[np.ndarray, ...]:
    """Decode many posting rows at once, in their given order →
    one int64 array per requested stream (``"docs"``, ``"tfs"``,
    ``"dls"``, ``"scores"``), each the rows' postings back to back.
    ``rows`` is column-indexable (a pandas frame, or a dict of
    per-row lists) with ``n_docs``, the streams' payload columns and,
    for docs, ``block_firsts`` and ``block_counts``.  Each stream's
    payloads are joined and varint-decoded in one pass; doc ids are
    rebuilt with one cumsum over every row's blocks.  Every row must
    hold exactly its ``n_docs`` values per stream, and for docs as
    many block firsts as block counts, summing to ``n_docs``."""
    n = np.asarray(list(rows["n_docs"]), dtype=np.int64)
    out = []
    for stream in streams:
        vals = _varint_decode_rows(list(rows[_PAYLOADS[stream]]), n)
        if stream == "docs":
            vals = _rebuild_doc_ids(
                vals, n, list(rows["block_firsts"]), list(rows["block_counts"])
            )
        out.append(vals.astype(np.int64, copy=False))
    return tuple(out)


def _rebuild_doc_ids(
    deltas: np.ndarray, n: np.ndarray, firsts: list, counts: list
) -> np.ndarray:
    """Absolute doc ids of consecutive rows from their joined delta
    stream and per-row block sidecars: one cumsum over all blocks,
    minus the running sum at each block start, plus the block's base.
    uint64 arithmetic wraps, so ids at the int64 edges come back
    exact."""
    n_blocks = np.fromiter(map(len, counts), dtype=np.int64, count=len(counts))
    if (n_blocks != np.fromiter(map(len, firsts), dtype=np.int64, count=len(firsts))).any():
        raise ValueError("a row's block_firsts and block_counts differ in length")
    c = np.concatenate([np.zeros(0, np.int64), *counts]).astype(np.int64)
    c_cum = np.concatenate(([0], np.cumsum(c)))
    if (c < 1).any() or (c_cum[np.cumsum(n_blocks)] != np.cumsum(n)).any():
        raise ValueError("a row's block_counts are not positive or do not add up to its n_docs")
    f = np.concatenate([np.zeros(0, np.int64), *firsts]).astype(np.int64)
    u = np.cumsum(deltas, dtype=np.uint64)
    block_of = np.repeat(np.arange(len(c)), c)
    u = u - u[c_cum[:-1]][block_of] + to_unsigned(f)[block_of]
    return to_signed(u)


#: the columns a (docs, scores) decode reads
_DOCS_SCORES_COLS = ("n_docs", "docs_payload", "block_firsts", "block_counts", "scores_payload")


def decode_docs_scores(enc_row) -> tuple[np.ndarray, np.ndarray]:
    """(doc ids, impact scores) of one posting row: :func:`decode_rows`
    over a one-row frame."""
    return decode_rows({c: [enc_row[c]] for c in _DOCS_SCORES_COLS}, "docs", "scores")


def decode_docs_scores_rows(
    rows,
) -> tuple[np.ndarray, np.ndarray, dict[str, tuple[int, int]]]:
    """Serving-path decode of a whole shard's posting rows at once
    (``rows``: columns ``term``, ``n_docs``, ``docs_payload``,
    ``block_firsts``, ``block_counts``, ``scores_payload``, e.g. a
    pandas frame) → (docs, scores, spans).  Rows are laid out
    term-sorted (stable) and decoded by :func:`decode_rows`, so
    ``docs[lo:hi]`` / ``scores[lo:hi]`` for ``spans[term] == (lo, hi)``
    are that term's postings: one doc-sorted run per (sub-shard) row."""
    terms = np.asarray(list(rows["term"]), dtype=object)
    if not len(terms):
        empty = np.zeros(0, dtype=np.int64)
        return empty, empty, {}
    order = np.argsort(terms, kind="stable")
    terms = terms[order]
    sorted_rows = {}
    for c in _DOCS_SCORES_COLS:
        vals = list(rows[c])
        sorted_rows[c] = [vals[i] for i in order]
    docs, scores = decode_rows(sorted_rows, "docs", "scores")
    n = np.asarray(sorted_rows["n_docs"], dtype=np.int64)
    ends = np.cumsum(n)
    first = np.flatnonzero(np.concatenate(([True], terms[1:] != terms[:-1])))
    last = np.append(first[1:], len(terms)) - 1
    spans = {
        t: (int(ends[f] - n[f]), int(ends[l]))
        for t, f, l in zip(terms[first], first, last)
    }
    return docs, scores, spans
