"""TF-IDF (reference-exact) and BM25 scoring.

Reference S13 (tfidf.go:44-147):
    tf    = freq / Tot                       (float division, tfidf.go:100)
    idf   = log10(totalPage / df)            (floats, tfidf.go:102)
    tfidf = round(tf * idf, 4)               (math.Round half-away-from-zero,
                                              tfidf.go:103)

Determinism contract (SURVEY.md §7 "hard parts"): Go's ``math.Round`` is
half-away-from-zero; Spark's ``round`` and DuckDB's ``round`` differ in
edge handling, so all engines here use the explicit
``floor(x*10^d + 0.5)/10^d`` form — identical IEEE ops, identical bits,
valid because tfidf/bm25 are always >= 0.

BM25 (Robertson & Zaragoza 2009; BASELINE.json:north_star):
    idf   = ln(1 + (N - df + 0.5)/(df + 0.5))
    score = idf * tf*(k1+1) / (tf + k1*(1 - b + b*doc_len/avgdl))

Quantized-impact trick: multi-term scores are sums of per-term floats,
and float addition is order-dependent — a distributed sum is not
rank-stable.  We therefore quantize each per-term score to an int64
(``floor(score*1e6 + 0.5)``) *before* summing; integer addition is
associative, so document scores are bit-identical across Spark, DuckDB,
the pure-Python oracle, and the per-shard top-k kernel, at any
parallelism.  This is the impact-ordered-index idea from the IR literature applied as
a determinism device.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

K1_DEFAULT = 1.2
B_DEFAULT = 0.75
QUANT = 1_000_000  # impact-score quantization: 6 decimal digits


def round_half_up(col: Column, digits: int) -> Column:
    """floor(x*10^d + 0.5)/10^d — Go math.Round semantics for x >= 0."""
    p = float(10**digits)
    return F.floor(col * F.lit(p) + F.lit(0.5)) / F.lit(p)


def round_half_up_py(x: float, digits: int) -> float:
    p = float(10**digits)
    return math.floor(x * p + 0.5) / p


def tfidf_scores(
    tf: DataFrame,
    stats: DataFrame,
    doclens: DataFrame,
    total_docs: int,
    *,
    doc_id: str = "doc_id",
    broadcast_stats: bool = True,
) -> DataFrame:
    """(doc_id, term, tf, tfidf) — reference-exact S13.

    ``broadcast_stats`` mirrors the reference's build-side-in-memory
    dictionary (tfidf.go:45).  At 10^12-file scale the term dictionary
    is NOT broadcastable — pass False and Catalyst/AQE picks a shuffle
    join on ``term`` (both sides can be pre-bucketed by term).
    """
    st = F.broadcast(stats) if broadcast_stats else stats
    joined = tf.join(st.select("term", "df"), "term").join(doclens, doc_id)
    raw = (F.col("tf").cast("double") / F.col("doc_len").cast("double")) * F.log10(
        F.lit(float(total_docs)) / F.col("df").cast("double")
    )
    return joined.select(
        doc_id, "term", "tf", round_half_up(raw, 4).alias("tfidf")
    )


def tfidf_py(tf: int, doc_len: int, df: int, total_docs: int) -> float:
    return round_half_up_py((tf / doc_len) * math.log10(total_docs / df), 4)


def bm25_idf_py(df: int, n_docs: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def bm25_score_py(
    tf: int, doc_len: int, df: int, n_docs: int, avgdl: float,
    k1: float = K1_DEFAULT, b: float = B_DEFAULT,
) -> float:
    idf = bm25_idf_py(df, n_docs)
    return idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * (doc_len / avgdl)))


def bm25_quantized_py(*args, **kw) -> int:
    return math.floor(bm25_score_py(*args, **kw) * QUANT + 0.5)


def bm25_term_scores(
    tf: DataFrame,
    stats: DataFrame,
    doclens: DataFrame,
    n_docs: int,
    avgdl: float,
    *,
    doc_id: str = "doc_id",
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    broadcast_stats: bool = True,
) -> DataFrame:
    """(doc_id, term, tf, score_q) — per-(doc,term) quantized BM25 impact.

    ``avgdl`` must be computed as exact-integer ``sum(doc_len)/count``
    (not Spark ``avg``, which accumulates doubles order-dependently).
    """
    st = F.broadcast(stats) if broadcast_stats else stats
    joined = tf.join(st.select("term", "df"), "term").join(doclens, doc_id)
    tf_d = F.col("tf").cast("double")
    dl_d = F.col("doc_len").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    score = idf * (tf_d * F.lit(k1 + 1.0)) / (
        tf_d + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (dl_d / F.lit(float(avgdl))))
    )
    return joined.select(
        doc_id,
        "term",
        "tf",
        F.floor(score * F.lit(float(QUANT)) + F.lit(0.5)).cast("long").alias("score_q"),
    )


def exact_avgdl(doclens: DataFrame) -> tuple[int, float]:
    """(n_docs, avgdl) with an exact integer sum (determinism)."""
    row = doclens.agg(
        F.sum("doc_len").alias("s"), F.count("*").alias("n")
    ).collect()[0]
    n = int(row["n"])
    return n, (float(int(row["s"])) / n if n else 0.0)
