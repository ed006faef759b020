"""Pure-Python reference answers for every call the benchmark makes.

Nothing here touches Spark: documents are tokenized with
``tokenize.tokenize_py`` and scored with ``scoring.bm25_quantized_py``,
the independent oracle path FIXTURES.md F4 prescribes.  The result of a
call is compared as a multiset of plain tuples: the engine's rows are
counted, so a row returned twice is a mismatch.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np

from wikitfidf_spark.operators.scoring import QUANT, bm25_quantized_py, tfidf_py
from wikitfidf_spark.tokenize import tokenize_py


class Stats:
    """Global BM25 statistics: document frequency, doc count, avgdl."""

    def __init__(self, df: dict[str, int], n: int, avgdl: float) -> None:
        self.df, self.n, self.avgdl = df, n, avgdl


class Reference:
    """Tokenized documents keyed by engine doc id, plus the scoring
    epoch the index currently serves (exact stats unless a deferred add
    left scores stale)."""

    def __init__(self) -> None:
        self.tfs: dict[int, Counter] = {}
        self.toks: dict[int, list[str]] = {}
        self.dls: dict[int, int] = {}
        self.topic: dict[int, str] = {}
        self.postings: dict[str, dict[int, int]] = {}
        self.epoch: Stats | None = None
        self.delta_df: dict[str, int] = {}
        self._scores: dict[str, dict[int, int]] = {}
        self._ids: np.ndarray | None = None
        self._dense_cache: dict[str, tuple[np.ndarray, np.ndarray]] = {}

    def add(self, docs: list[tuple[int, str, str]]) -> None:
        """Add (doc_id, topic, content) rows.  The first add sets the
        epoch; later ones are one deferred delta each, scored by the
        epoch-stale rule until :meth:`refresh`."""
        fresh = self.epoch is None
        if not fresh:
            self.delta_df = Counter()
        for doc_id, topic, content in docs:
            toks = tokenize_py(content)
            c = Counter(toks)
            self.toks[doc_id], self.tfs[doc_id] = toks, c
            self.dls[doc_id] = sum(c.values())
            self.topic[doc_id] = topic
            for t, n in c.items():
                self.postings.setdefault(t, {})[doc_id] = n
                if not fresh:
                    self.delta_df[t] += 1
        self._scores.clear()
        self._ids = None
        self._dense_cache.clear()
        if fresh:
            self.refresh()

    def refresh(self) -> None:
        """Exact stats over every live document (refresh / compact)."""
        n = len(self.dls)
        self.epoch = Stats(
            {t: len(p) for t, p in self.postings.items()}, n, sum(self.dls.values()) / n
        )
        self.delta_df = {}
        self._scores.clear()
        self._dense_cache.clear()

    def df(self, term: str) -> int:
        return len(self.postings.get(term, ()))

    def term_scores(self, term: str) -> dict[int, int]:
        """doc -> quantized BM25 impact.  Stale rule for a deferred add:
        epoch n/avgdl, epoch df where the epoch knew the term, else the
        delta's own df."""
        s = self._scores.get(term)
        if s is None:
            ep = self.epoch
            df = ep.df.get(term) or self.delta_df.get(term, 0)
            s = {
                d: bm25_quantized_py(tf, self.dls[d], df, ep.n, ep.avgdl)
                for d, tf in self.postings.get(term, {}).items()
            }
            self._scores[term] = s
        return s

    def _dense(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        """:meth:`term_scores` as (impact, present) arrays over the doc ids
        in ascending order, so a query sums its terms in numpy."""
        v = self._dense_cache.get(term)
        if v is None:
            s = self.term_scores(term)
            scores = np.zeros(len(self._ids), dtype=np.int64)
            present = np.zeros(len(self._ids), dtype=np.int64)
            if s:
                at = np.searchsorted(self._ids, np.fromiter(s, np.int64, len(s)))
                scores[at] = np.fromiter(s.values(), np.int64, len(s))
                present[at] = 1
            v = self._dense_cache[term] = (scores, present)
        return v

    def _ranked(self, terms, mode: str = "OR", exclude: int | None = None,
                limit: int | None = None) -> list:
        """(doc, summed impact) of every matching doc, by (impact desc,
        doc asc); the first ``limit`` only if given."""
        if self._ids is None:
            self._ids = np.array(sorted(self.dls), dtype=np.int64)
        uniq = sorted(set(terms))
        acc = np.zeros(len(self.dls), dtype=np.int64)
        hits = np.zeros(len(self.dls), dtype=np.int64)
        for t in uniq:
            scores, present = self._dense(t)
            acc += scores
            hits += present
        match = hits == len(uniq) if mode == "AND" else hits > 0
        if exclude is not None:
            match &= self._ids != exclude
        at = np.flatnonzero(match)  # ascending doc id
        order = at[np.argsort(-acc[at], kind="stable")[:limit]]
        return list(zip(self._ids[order].tolist(), acc[order].tolist()))

    def _top(self, qid, ranked, k) -> set:
        return {(qid, d, s, r) for r, (d, s) in enumerate(ranked[:k], 1)}

    # ---- one function per engine call; each returns a set of tuples in
    # the engine's column order (the float ``score`` column is dropped:
    # it is score_q / QUANT by construction)

    def topk_batch(self, queries) -> set:
        out = set()
        for q in queries:
            out |= self._top(q.query_id, self._ranked(q.terms, q.mode, limit=q.k), q.k)
        return out

    def phrase_topk_batch(self, phrases) -> set:
        out = set()
        for p in phrases:
            n = len(p.terms)
            docs = {
                d for d in self.postings.get(p.terms[0], {})
                if any(self.toks[d][i:i + n] == p.terms for i in range(len(self.toks[d]) - n + 1))
            }
            ranked = [kv for kv in self._ranked(p.terms) if kv[0] in docs]
            out |= self._top(p.query_id, ranked, p.k)
        return out

    def _match(self, terms) -> set[int]:
        return set().union(*(self.postings.get(t, {}) for t in terms))

    def facet_counts_batch(self, panels) -> set:
        return {
            (qid, topic, n)
            for qid, terms in panels
            for topic, n in Counter(self.topic[d] for d in self._match(terms)).items()
        }

    def facet_histogram_batch(self, panels, edges) -> set:
        out = set()
        for qid, terms in panels:
            c = Counter(sum(self.dls[d] >= e for e in edges) - 1 for d in self._match(terms))
            out |= {
                (qid, float(edges[b]), float(edges[b + 1]), n)
                for b, n in c.items() if 0 <= b < len(edges) - 1
            }
        return out

    def facet_stats_batch(self, panels) -> set:
        out = set()
        for qid, terms in panels:
            v = sorted(float(self.dls[d]) for d in self._match(terms))
            if not v:
                continue
            mid = len(v) // 2
            med = v[mid] if len(v) % 2 else (v[mid - 1] + v[mid]) / 2
            out.add((qid, len(v), v[0], v[-1], sum(v), sum(v) / len(v), med))
        return out

    def collapse_topk_batch(self, panels, k: int) -> set:
        out = set()
        for qid, terms in panels:
            best: dict[str, tuple[int, int]] = {}
            for d, s in self._ranked(terms):  # ranked, so first per topic wins
                best.setdefault(self.topic[d], (d, s))
            groups = sorted(best.items(), key=lambda kv: (-kv[1][1], kv[1][0]))[:k]
            out |= {(qid, topic, d, s) for topic, (d, s) in groups}
        return out

    def wildcard_topk_batch(self, panels, k: int, max_expansions: int) -> set:
        out = set()
        for qid, pattern in panels:
            rx = re.compile("".join(
                ".*" if ch == "*" else "." if ch == "?" else re.escape(ch) for ch in pattern
            ))
            terms = sorted(
                (t for t in self.postings if self.postings[t] and rx.fullmatch(t)),
                key=lambda t: (-self.df(t), t),
            )[:max_expansions]
            out |= self._top(qid, self._ranked(terms), k)
        return out

    def suggest_batch(self, lookups, max_dist: int, n: int) -> set:
        out = set()
        for qid, q in lookups:
            cands = [
                (t, _levenshtein(t, q)) for t in self.postings
                if self.postings[t] and abs(len(t) - len(q)) <= max_dist
            ]
            best = sorted(
                ((t, dist) for t, dist in cands if dist <= max_dist),
                key=lambda td: (td[1], -self.df(td[0]), td[0]),
            )[:n]
            out |= {(qid, t, dist, self.df(t)) for t, dist in best}
        return out

    def more_like_this_batch(self, doc_ids, m: int, k: int) -> set:
        out = set()
        n = len(self.dls)
        for qid, src in enumerate(doc_ids):
            c, dl = self.tfs[src], self.dls[src]
            terms = sorted(c, key=lambda t: (-tfidf_py(c[t], dl, self.df(t), n), t))[:m]
            out |= {
                (qid, src, d, s, r)
                for _, d, s, r in self._top(qid, self._ranked(terms, exclude=src), k)
            }
        return out


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def normalize(api: str, rows) -> Counter:
    """Engine rows -> counts of the tuples :class:`Reference` returns: drop
    the derived float ``score`` column after checking it equals
    score_q/QUANT.  Counting keeps a duplicated row visible."""
    out: Counter = Counter()
    for r in rows:
        d = r.asDict()
        if "score" in d:
            if not math.isclose(d.pop("score"), d["score_q"] / QUANT, rel_tol=1e-12, abs_tol=1e-12):
                d["score_q"] = None  # a score that disagrees with score_q is a mismatch
        out[tuple(d.values())] += 1
    return out
