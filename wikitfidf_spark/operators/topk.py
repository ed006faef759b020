"""Top-k operators.

Reference parity:
- S17 top-N per page by tfidf   topwordspageextractor.pyx:54-99
- S18 top-N global words        topwordspageextractor.pyx:102-122
- S19 top-N per topic           topwordspageextractor.pyx:125-173
- S4  top-N most-recent revisions per page  dumpreducer.go:44-79

Physical notes: per-group top-k compiles to a window over a single
shuffle by the partition key (sort within partition, no global sort);
global top-k compiles to ``TakeOrderedAndProject`` (per-partition heap +
driver merge — no full sort, no single-reducer bottleneck).

The reference breaks ties by Counter insertion order
(topwordspageextractor.pyx:19) — non-deterministic for us; every top-k
here carries an explicit total tie-break (SURVEY.md §7).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_n_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
    n: int | Column,
    rank_col: str = "rank",
) -> DataFrame:
    """row_number window top-k; ``order_by`` must be a total order.
    ``n`` may be a Column, a per-row cut (each query's own k)."""
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= n)


def top_n_words_per_doc(tfidf: DataFrame, n: int, *, doc_id: str = "doc_id") -> DataFrame:
    """S17 with deterministic (tfidf desc, term asc) tie-break."""
    return top_n_per_group(tfidf, [doc_id], [F.desc("tfidf"), F.asc("term")], n)


def top_n_global_terms(stats: DataFrame, n: int) -> DataFrame:
    """S18: global top-N by collection frequency (key "a"),
    (cf desc, term asc); compiles to TakeOrderedAndProject."""
    return stats.orderBy(F.desc("cf"), F.asc("term")).limit(n)


def top_n_terms_per_topic(topic_counts: DataFrame, n: int, *, topic: str = "lang") -> DataFrame:
    """S19 over the S15 output (n_docs = pages-in-topic-containing-term)."""
    return top_n_per_group(topic_counts, [topic], [F.desc("n_docs"), F.asc("term")], n)


def top_n_recent_per_group(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    n: int,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """S4 *intended* semantics (dumpreducer.go:44-60): keep the N most
    recent rows per group, returned without the rank column.  The
    reference's heap has an order-dependence quirk (unconditional
    replacement, correct only for chronological input — SURVEY.md §2 S4);
    we implement the intended top-N-recent, documented as a deliberate
    fix."""
    order = [F.desc(ts_col)]
    if tiebreak_col:
        order.append(F.asc(tiebreak_col))
    return top_n_per_group(df, [group_col], order, n).drop("rank")
