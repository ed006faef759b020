"""Term statistics: per-doc TF, doc lengths, global CF/DF, totals.

Reference parity:
- S9  per-page term frequency       wordmapperbypage.go:17-30
- S10 global word stats (cf/df)     globalwordmapper.go:16-68
- S12 doc length (Tot)              pagemapaggregator.go:16-23

Scale notes (10^12 files): the ``groupBy(term)`` in S10 is the skew
point — Zipf-head identifiers (``get``, ``self``-equivalents) funnel to
single reducers.  :func:`global_term_stats` therefore aggregates
two-phase: a salted partial agg ``(term, salt)`` spreads each hot term
over ``n_salts`` reducers, then a final merge combines the (tiny) salted
partials.  Input rows to phase 1 are already per-doc-aggregated
(tokenize.tf_map_in_pandas), so phase-1 cardinality is bounded by
distinct (doc, term) pairs, and map-side partial aggregation shrinks it
further before any shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..tokenize import tokens_col


def term_frequencies(
    docs: DataFrame,
    *,
    doc_id: str = "doc_id",
    text: str = "content",
    extra_cols: tuple[str, ...] = (),
    stopwords: frozenset[str] | set[str] | tuple[str, ...] | None = None,
    min_len: int | None = None,
    letters: str | None = None,
) -> DataFrame:
    """(doc_id, [extra...], term, tf) via JVM-side regexp + explode +
    hash agg (codegen path; oracle-expressible in ANSI SQL).

    Deliberately does NOT emit a per-row doc_len: computing it from the
    token array alongside the explode makes Catalyst evaluate the
    tokenize regex TWICE per document (once for ``size``, once inside
    ``Generate``) — a measured +30-50% on the whole phase.  Doc lengths
    are a separate cheap aggregation over this output
    (:func:`doc_lengths`).

    The index build uses the fused Arrow variant
    (:func:`wikitfidf_spark.tokenize.tf_map_in_pandas`); tests prove the
    two produce identical rows.

    ``stopwords``/``min_len`` thread through to the tokenizer (reference
    normalization hooks: stopword drop + per-language CJK min length,
    textnormalizer.pyx:103-109,170-176) — still pure JVM codegen.
    """
    from ..tokenize import DEFAULT_LETTERS, MIN_TOKEN_LEN

    toks = tokens_col(
        text, stopwords=stopwords,
        min_len=MIN_TOKEN_LEN if min_len is None else min_len,
        letters=DEFAULT_LETTERS if letters is None else letters,
    )
    return (
        docs.select(doc_id, *extra_cols, F.explode(toks).alias("term"))
        .groupBy(doc_id, *extra_cols, "term")
        .agg(F.count("*").alias("tf"))
    )


def doc_lengths(tf: DataFrame, *, doc_id: str = "doc_id") -> DataFrame:
    """(doc_id, doc_len): Tot = Σ tf per doc (pagemapaggregator.go:16-23)."""
    return tf.groupBy(doc_id).agg(F.sum("tf").alias("doc_len"))


def global_term_stats(
    tf: DataFrame,
    *,
    doc_id: str = "doc_id",
    n_salts: int = 0,
) -> DataFrame:
    """(term, cf, df): collection frequency = Σ tf, document frequency =
    #docs containing term (globalwordmapper.go:49-59 keys "a"/"i").

    ``n_salts > 1`` switches on the explicit two-phase salted aggregation
    demanded by BASELINE.json:north_rule; ``0`` lets Spark's partial agg
    + AQE handle it (fine below ~10^9 rows).  Both produce identical
    results — tests assert it.
    """
    if n_salts and n_salts > 1:
        partial = (
            tf.withColumn("_salt", F.pmod(F.xxhash64(doc_id), F.lit(n_salts)))
            .groupBy("term", "_salt")
            .agg(F.sum("tf").alias("_cf"), F.count("*").alias("_df"))
        )
        return partial.groupBy("term").agg(
            F.sum("_cf").alias("cf"), F.sum("_df").alias("df")
        )
    # rows are unique per (doc, term), so count(*) == document frequency
    return tf.groupBy("term").agg(F.sum("tf").alias("cf"), F.count("*").alias("df"))


def totals(tf: DataFrame, *, doc_id: str = "doc_id") -> tuple[int, int]:
    """(total_tokens, total_docs) — the reference's sentinel rows
    "@Total Word"/"@Total Page" (globalwordmapper.go:62-65).  One tiny
    action; exact integer sums (no float accumulation)."""
    row = tf.agg(
        F.sum("tf").alias("total_tokens"),
        F.countDistinct(doc_id).alias("total_docs"),
    ).collect()[0]
    return int(row["total_tokens"] or 0), int(row["total_docs"] or 0)


def term_frequencies_with_topic(
    docs: DataFrame,
    *,
    doc_id: str = "doc_id",
    topic: str = "lang",
    text: str = "content",
) -> DataFrame:
    return term_frequencies(docs, doc_id=doc_id, text=text, extra_cols=(topic,))


def topic_term_doc_counts(
    tf_with_topic: DataFrame, *, doc_id: str = "doc_id", topic: str = "lang"
) -> DataFrame:
    """S15 (topicwords.go:106-198): per (topic, term), number of docs in
    the topic containing the term — *pages-containing*, not occurrences
    (the reference iterates map keys, topicwords.go:93-95).  tf rows are
    already distinct per (doc, term), so a plain count suffices; the
    reference's per-topic temp files are just this shuffle."""
    return tf_with_topic.groupBy(topic, "term").agg(
        F.count("*").alias("n_docs")
    )
