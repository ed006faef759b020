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
  Each block is independently decodable: its first value is stored in
  the ``block_firsts`` sidecar array; the delta stream holds
  d[0]=0, d[j]=doc[j]-doc[j-1] within the block.
- tfs and quantized impact scores: plain varint streams, block-aligned
  via byte-offset sidecars.
- sidecars (parquet arrays): block_firsts/block_lasts (absolute doc ids,
  enables skipping), block_max_score (int64 quantized, so a block-max
  pruning bound compares exactly against integer score sums), per-stream
  byte offsets.

Everything is numpy array code — no per-element Python in encode/decode.
The serving path decodes a shard's whole batch of rows at once
(:func:`decode_docs_scores_rows`): one varint pass per stream over the
joined payloads, not one per row.
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


def varint_encode(values: np.ndarray, lens: np.ndarray | None = None) -> bytes:
    """LEB128-style varint for a uint64 array, vectorized."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b""
    lens = varint_lengths(v) if lens is None else lens
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
    """Decode n varints from buf (must contain exactly n terminated
    varints when sliced by the caller's byte offsets)."""
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    b = np.frombuffer(buf, dtype=np.uint8)
    ends = np.flatnonzero(b < 0x80)  # last byte of each varint
    if len(ends) != n or ends[-1] != len(b) - 1:
        raise ValueError(f"expected {n} terminated varints in {len(b)} bytes")
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    if lens.max() > 10:
        raise ValueError("varint longer than 10 bytes")
    # each byte's 7 payload bits shifted to its place in its varint,
    # then OR-ed together per varint
    shift = np.arange(len(b), dtype=np.uint64) - np.repeat(starts, lens).astype(np.uint64)
    return np.bitwise_or.reduceat(
        (b & 0x7F).astype(np.uint64) << (np.uint64(7) * shift), starts
    )


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
    block_lasts: np.ndarray
    block_counts: np.ndarray
    block_doc_offs: np.ndarray
    block_tf_offs: np.ndarray
    block_dl_offs: np.ndarray


def encode_structure(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    block_size: int = BLOCK_SIZE_DEFAULT,
    presorted: bool = False,
) -> EncodedStructure:
    """Vectorized encode of the global-stat-free streams (docs delta +
    varint, tfs varint, doc-lens varint) with block sidecars."""
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

    d_lens = varint_lengths(deltas)
    t_lens = varint_lengths(t)
    l_lens = varint_lengths(l)
    d_cum = np.concatenate(([0], np.cumsum(d_lens)))
    t_cum = np.concatenate(([0], np.cumsum(t_lens)))
    l_cum = np.concatenate(([0], np.cumsum(l_lens)))
    return EncodedStructure(
        n=n,
        docs_payload=varint_encode(deltas, d_lens),
        tfs_payload=varint_encode(t, t_lens),
        dls_payload=varint_encode(l, l_lens),
        block_firsts=d[starts],
        block_lasts=d[ends - 1],
        block_counts=(ends - starts).astype(np.int32),
        block_doc_offs=d_cum[starts],
        block_tf_offs=t_cum[starts],
        block_dl_offs=l_cum[starts],
    )


def encode_scores(
    scores_q: np.ndarray, block_counts: np.ndarray
) -> tuple[bytes, np.ndarray, np.ndarray]:
    """Encode the score stream for an existing structure's blocking:
    (scores_payload, block_max_score, block_score_offs).  ``scores_q``
    must be in the structure's doc order."""
    s = np.ascontiguousarray(scores_q, dtype=np.uint64)
    counts = np.asarray(block_counts, dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1])).astype(np.int64)
    s_lens = varint_lengths(s)
    s_cum = np.concatenate(([0], np.cumsum(s_lens)))
    maxes = (
        np.maximum.reduceat(s.view(np.int64), starts)
        if len(s)
        else np.zeros(0, np.int64)
    )
    return varint_encode(s, s_lens), maxes.astype(np.int64), s_cum[starts]


def decode_tfs_dls(enc_row) -> tuple[np.ndarray, np.ndarray]:
    """Score-refresh decode: (tfs, dls) from a structure row — exactly
    the arrays the BM25 kernel consumes, in stored doc order."""
    n = int(enc_row["n_docs"])
    tfs = varint_decode(enc_row["tfs_payload"], n)
    dls = varint_decode(enc_row["dls_payload"], n)
    return tfs, dls


def decode_block_docs(
    docs_payload: bytes | memoryview,
    block_firsts: np.ndarray,
    block_counts: np.ndarray,
    block_doc_offs: np.ndarray,
    i: int,
) -> np.ndarray:
    """Decode the doc_ids of block i only (a block-skipping reader's
    random access into the delta stream)."""
    cnt = int(block_counts[i])
    off = int(block_doc_offs[i])
    end = int(block_doc_offs[i + 1]) if i + 1 < len(block_doc_offs) else None
    deltas = varint_decode(memoryview(docs_payload)[off:end], cnt)
    base = to_unsigned(np.array([block_firsts[i]], dtype=np.int64))[0]
    return to_signed(base + np.cumsum(deltas, dtype=np.uint64))


def decode_block_stream(
    payload: bytes | memoryview,
    block_counts: np.ndarray,
    offs: np.ndarray,
    i: int,
) -> np.ndarray:
    cnt = int(block_counts[i])
    off = int(offs[i])
    end = int(offs[i + 1]) if i + 1 < len(offs) else None
    return varint_decode(memoryview(payload)[off:end], cnt)


def _rebuild_doc_ids(
    deltas: np.ndarray, counts: np.ndarray, firsts: np.ndarray
) -> np.ndarray:
    """Absolute doc ids from a delta stream of consecutive blocks
    (``counts`` postings each, first ids ``firsts``): one cumsum over
    all blocks, minus the running sum at each block start, plus the
    block's base.  uint64 arithmetic wraps, so ids at the int64 edges
    come back exact."""
    u = np.cumsum(deltas, dtype=np.uint64)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    block_of = np.repeat(np.arange(len(counts)), counts)
    u = u - u[starts][block_of] + to_unsigned(firsts)[block_of]
    return to_signed(u)


def _decode_doc_ids(enc_row) -> np.ndarray:
    n = int(enc_row["n_docs"])
    return _rebuild_doc_ids(
        varint_decode(enc_row["docs_payload"], n),
        np.asarray(enc_row["block_counts"], dtype=np.int64),
        np.asarray(enc_row["block_firsts"], dtype=np.int64),
    )


def decode_all(enc_row) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Full decode of one posting-list row (dict-like with the parquet
    column names from build.py) -> (doc_ids int64, tfs, scores_q)."""
    n = int(enc_row["n_docs"])
    docs = _decode_doc_ids(enc_row)
    tfs = varint_decode(enc_row["tfs_payload"], n).astype(np.int64)
    scores = varint_decode(enc_row["scores_payload"], n).astype(np.int64)
    return docs, tfs, scores


def decode_doc_ids(enc_row) -> np.ndarray:
    """Membership-only decode: doc ids alone — for consumers that never
    score (must_not masks, doc-set diffs), skipping both the tf and the
    score varint streams."""
    return _decode_doc_ids(enc_row)


def decode_docs_scores(enc_row) -> tuple[np.ndarray, np.ndarray]:
    """Serving-path decode: doc ids + impact scores only — skips the tf
    varint stream (a third of full-decode work the scorer never uses)."""
    n = int(enc_row["n_docs"])
    docs = _decode_doc_ids(enc_row)
    scores = varint_decode(enc_row["scores_payload"], n).astype(np.int64)
    return docs, scores


def _varint_decode_rows(payloads: list, counts: np.ndarray) -> np.ndarray:
    """Decode the concatenation of several rows' varint streams in one
    pass.  Each row must end on a varint terminator and hold exactly
    its count of varints — otherwise a truncated row would silently
    borrow bytes from the next one — so both are checked per row."""
    lens = np.fromiter(map(len, payloads), dtype=np.int64, count=len(payloads))
    b = np.frombuffer(b"".join(payloads), dtype=np.uint8)
    byte_ends = np.cumsum(lens)
    # varints ending before each row's end, and each row's last byte
    ended = np.searchsorted(np.flatnonzero(b < 0x80), byte_ends)
    if (b[byte_ends[lens > 0] - 1] >= 0x80).any() or not np.array_equal(
        ended, np.cumsum(counts)
    ):
        raise ValueError("varint payload does not match its row's posting count")
    return varint_decode(b, int(counts.sum()))


def decode_docs_scores_rows(
    rows,
) -> tuple[np.ndarray, np.ndarray, dict[str, tuple[int, int]]]:
    """Serving-path decode of a whole shard's posting rows at once
    (``rows``: columns ``term``, ``n_docs``, ``docs_payload``,
    ``block_firsts``, ``block_counts``, ``scores_payload``, e.g. a
    pandas frame) → (docs, scores, spans).  The rows' payloads are
    joined and each stream is varint-decoded once; doc ids are rebuilt
    with one cumsum over every row's blocks.  Rows are laid out
    term-sorted, so ``docs[lo:hi]`` / ``scores[lo:hi]`` for
    ``spans[term] == (lo, hi)`` are that term's postings: one
    doc-sorted run per (sub-shard) row.  Equal to concatenating
    :func:`decode_docs_scores` over the rows in that order."""
    terms = np.asarray(list(rows["term"]), dtype=object)
    if not len(terms):
        empty = np.zeros(0, dtype=np.int64)
        return empty, empty, {}
    order = np.argsort(terms, kind="stable")
    terms = terms[order]

    def column(name: str) -> list:
        vals = list(rows[name])
        return [vals[i] for i in order]

    n = np.asarray(column("n_docs"), dtype=np.int64)
    counts = np.concatenate(column("block_counts")).astype(np.int64)
    if int(counts.sum()) != int(n.sum()):
        raise ValueError("block_counts do not add up to n_docs")
    firsts = np.concatenate(column("block_firsts")).astype(np.int64)
    docs = _rebuild_doc_ids(_varint_decode_rows(column("docs_payload"), n), counts, firsts)
    scores = _varint_decode_rows(column("scores_payload"), n).astype(np.int64)
    ends = np.cumsum(n)
    first = np.flatnonzero(np.concatenate(([True], terms[1:] != terms[:-1])))
    last = np.append(first[1:], len(terms)) - 1
    spans = {
        t: (int(ends[f] - n[f]), int(ends[l]))
        for t, f, l in zip(terms[first], first, last)
    }
    return docs, scores, spans
