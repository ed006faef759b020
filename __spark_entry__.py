"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 (plus
the pipeline extensions) over the driver's parquet tables; each entry
has an ANSI-SQL oracle in ``oracle_sql()`` computing the same result in
DuckDB.  Determinism rules shared by both sides (see
wikitfidf_spark/operators/scoring.py):

- tokenization = the one regex ``[a-z_][a-z0-9_]{2,32}`` over lower(text)
- round-half-up is spelled ``floor(x*10^d + 0.5)/10^d`` (Go math.Round
  semantics, identical IEEE ops in both engines)
- any distributed sum that feeds a compared value is an *integer* sum of
  quantized terms (float addition is order-dependent; int addition isn't)
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wikitfidf_spark.sources import read_named_table
from wikitfidf_spark.tokenize import TOKEN_REGEX
from wikitfidf_spark.operators import termstats, topk, badwords as bw, stemdict, filters
from wikitfidf_spark.operators import dedup, similarity, textstats, multimodal
from wikitfidf_spark.operators import sampling, decontam
from wikitfidf_spark.operators.scoring import QUANT, round_half_up
from wikitfidf_spark.streaming import jobs as stream_jobs

# ---------------------------------------------------------------- fixtures

FLAGGED = ["slow", "error", "legacy"]          # badwords-analogue list
STOP_TERMS = ("the", "and", "for", "with")     # stopword-hook probe ('the' is in-vocab)
BM25_OR_TERMS = ["join", "hash", "dup"]        # hot+hot+rare disjunction
BM25_AND_TERMS = ["dup", "join"]               # rare ∧ hot conjunction
PHRASE_TERMS = ["part", "filter"]              # adjacent pair present at every SF
TFIDF_TERM = "dup"                             # degenerate single-term mode
WILD_PATTERN = "s*"                            # expands to scan/sort/stream/...
WILD_CAP = 4                                   # exercises the (df desc, term asc) tie cut
MSM_N = 2                                      # minimum-should-match floor over OR terms
EXPLAIN_DOCS = 3                               # top docs whose scores get explained
HIST_EDGES = (20.0, 40.0, 60.0, 80.0)          # range-facet buckets over doc_len (8-98 in-corpus)
K1, B = 1.2, 0.75
TOPK = 20
LSH_PLANES = 4                                 # 16 buckets over the test embeddings
NEAR_DUP_PLANES = 8                            # bits per band (near-dup LSH)
NEAR_DUP_BANDS = 16                            # OR'd signature bands (near-dup LSH)
IVF_CELLS = 8                                  # IVF coarse-quantizer cells
IVF_NPROBE = 2                                 # cells probed per query
FRAME_BYTES = 16                               # stand-in frame size (bytes)
RESIZE_BYTES = 24                              # stand-in resize target (bytes)
FRAME_EVERY = 2                                # keep every n-th frame
NEAR_DUP_COS = 0.35                            # near-dup threshold (synthetic vecs top out ~0.51)
EMB_DIM = 64                                   # embeddings.parquet vector dim (TESTDATA.md)
HYBRID_M = 50                                  # BM25 candidate pool for hybrid rerank
RRF_K = 60                                     # reciprocal-rank-fusion constant (standard)
PREFIX_Q = "s"                                 # dictionary prefix-search probe
PREFIX_Q2 = "c"                                # second panel of the batch probe
SUGGEST_Q = "par"                              # fuzzy-suggest probe (near 'part', 'spark', ...)
SUGGEST_Q2 = "cod"                             # second panel of the batch probe
SUGGEST_DIST = 2                               # max Levenshtein distance for suggest


_WIDEN_MEMO: dict[tuple[str, str], bool] = {}  # (sf_dir, name) -> needs widening


def _t(spark: SparkSession, sf_dir: str, name: str, widen: bool = False) -> DataFrame:
    """Scan a driver table.  ``widen=True`` repartitions ONLY when the
    scan has fewer partitions than half the cores (the driver's tables
    are single-row-group files, so the scan can't split) — at real
    scale the many-files scan already saturates and the gate makes the
    shuffle a no-op.  Use it for scans feeding per-row compute
    (tokenize/regex/hashing), never for plain aggregates.  The
    partition-count probe (a driver-side plan->RDD conversion, ~100ms)
    is memoized per (sf_dir, table) so repeated scans don't re-pay it.

    Every scan routes through sources.read_named_table: parquet by
    default, an Iceberg catalog table when SPARK_GRAFT_SOURCE_FORMAT
    says so (BASELINE.json input_hint; no catalog jars in-sandbox)."""
    df = read_named_table(spark, sf_dir, name)
    if widen:
        par = spark.sparkContext.defaultParallelism
        key = (sf_dir, name)
        need = _WIDEN_MEMO.get(key)
        if need is None:
            need = _WIDEN_MEMO[key] = df.rdd.getNumPartitions() < max(2, par // 2)
        if need:
            df = df.repartition(par)
    return df


def _docs(spark, sf_dir) -> DataFrame:
    return _t(spark, sf_dir, "documents", widen=True)


def _tf(spark, sf_dir) -> DataFrame:
    return termstats.term_frequencies(_docs(spark, sf_dir), text="text")


_TOK_CTE = f"""
tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_REGEX}')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*)::bigint AS tf FROM tok GROUP BY 1, 2)
"""

_BM25_CTE = (
    "WITH " + _TOK_CTE + f""",
dl AS (SELECT doc_id, sum(tf)::bigint AS doc_len FROM tf GROUP BY 1),
st AS (SELECT term, count(*)::bigint AS df FROM tf GROUP BY 1),
tot AS (SELECT count(*)::bigint AS n, sum(doc_len)::bigint AS s FROM dl),
sc AS (
  SELECT tf.doc_id, tf.term,
         floor(
           ln(1 + (tot.n - st.df + 0.5) / (st.df + 0.5))
           * (tf.tf::double * {K1 + 1.0})
           / (tf.tf::double + {K1} * (1 - {B} + {B} * (dl.doc_len::double / (tot.s::double / tot.n))))
           * {QUANT} + 0.5
         )::bigint AS score_q
  FROM tf JOIN st USING (term) JOIN dl USING (doc_id) CROSS JOIN tot
  WHERE tf.term IN (%(terms)s)
)
"""
)


def _bm25_scores_df(spark, sf_dir, terms: list[str]) -> DataFrame:
    """Quantized per-(doc,term) BM25 impacts via the engine operators,
    with totals carried as a broadcast singleton (no driver collect)."""
    tf = _tf(spark, sf_dir)
    dl = termstats.doc_lengths(tf)
    st = termstats.global_term_stats(tf)
    tot = dl.agg(F.count("*").alias("n"), F.sum("doc_len").alias("s"))
    j = (
        tf.filter(F.col("term").isin(terms))
        .join(F.broadcast(st.select("term", "df")), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(tot))
    )
    tf_d = F.col("tf").cast("double")
    idf = F.log(
        F.lit(1.0) + (F.col("n").cast("double") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = tf_d + F.lit(K1) * (
        F.lit(1.0 - B)
        + F.lit(B) * (F.col("doc_len").cast("double") / (F.col("s").cast("double") / F.col("n").cast("double")))
    )
    score = idf * (tf_d * F.lit(K1 + 1.0)) / denom
    return j.select(
        "doc_id", "term",
        F.floor(score * F.lit(float(QUANT)) + F.lit(0.5)).cast("long").alias("score_q"),
    )


# ---------------------------------------------------------------- queries


def q_term_frequency(spark, sf_dir):
    """S9 (wordmapperbypage.go:17-30): per-doc term frequencies."""
    return _tf(spark, sf_dir)


def q_doc_lengths(spark, sf_dir):
    """S12 (pagemapaggregator.go:16-23): Tot per doc."""
    return termstats.doc_lengths(_tf(spark, sf_dir))


def q_global_term_stats(spark, sf_dir):
    """S10 (globalwordmapper.go:49-65): cf ('a') and df ('i') per term,
    via the salted two-phase aggregation (skew path)."""
    return termstats.global_term_stats(_tf(spark, sf_dir), n_salts=8)


def q_global_top_terms(spark, sf_dir):
    """S18 (topwordspageextractor.pyx:102-122): global top-N by cf."""
    return topk.top_n_global_terms(termstats.global_term_stats(_tf(spark, sf_dir)), 25)


def q_tfidf_topn_per_doc(spark, sf_dir):
    """S13+S17 (tfidf.go:100-103, topwordspageextractor.pyx:54-99):
    reference-exact tfidf, top-10 per doc, (tfidf desc, term asc)."""
    tf = _tf(spark, sf_dir)
    dl = termstats.doc_lengths(tf)
    st = termstats.global_term_stats(tf)
    tot = dl.agg(F.count("*").alias("n"))
    j = tf.join(F.broadcast(st.select("term", "df")), "term").join(dl, "doc_id").crossJoin(F.broadcast(tot))
    raw = (F.col("tf").cast("double") / F.col("doc_len").cast("double")) * F.log10(
        F.col("n").cast("double") / F.col("df").cast("double")
    )
    scored = j.select("doc_id", "term", "tf", round_half_up(raw, 4).alias("tfidf"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 10)


def q_tfidf_single_term(spark, sf_dir):
    """Degenerate single-term TF-IDF ranking (north_star backward-compat
    mode): rank all docs containing TFIDF_TERM by reference tfidf."""
    tf = _tf(spark, sf_dir)
    dl = termstats.doc_lengths(tf)
    st = termstats.global_term_stats(tf)
    tot = dl.agg(F.count("*").alias("n"))
    j = (
        tf.filter(F.col("term") == TFIDF_TERM)
        .join(F.broadcast(st.select("term", "df")), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(tot))
    )
    raw = (F.col("tf").cast("double") / F.col("doc_len").cast("double")) * F.log10(
        F.col("n").cast("double") / F.col("df").cast("double")
    )
    return (
        j.select("doc_id", round_half_up(raw, 4).alias("tfidf"))
        .orderBy(F.desc("tfidf"), F.asc("doc_id"))
        .limit(TOPK)
    )


def q_stopword_term_stats(spark, sf_dir):
    """S7's stopword-drop stage (textnormalizer.pyx:103-109), oracle
    checked: global cf/df over term frequencies with STOP_TERMS removed
    on the surface token, through the salted two-phase aggregation.
    The stop filter runs inside the tokens array (F.filter + isin —
    codegen, no UDF) before the explode, so dropped tokens never reach
    the shuffle.  Parity across all three tokenizer implementations is
    pytest-asserted (tests/test_tokenize.py)."""
    tf = termstats.term_frequencies(
        _docs(spark, sf_dir), text="text", stopwords=STOP_TERMS
    )
    return termstats.global_term_stats(tf, n_salts=8)


def q_topic_term_doc_counts(spark, sf_dir):
    """S15 (topicwords.go:106-198): docs-in-topic containing term
    (distinct semantics preserved); topic = lang."""
    docs = _docs(spark, sf_dir)
    tf = termstats.term_frequencies(docs, text="text", extra_cols=("lang",))
    return termstats.topic_term_doc_counts(tf, topic="lang")


def q_topic_top_terms(spark, sf_dir):
    """S19 (topwordspageextractor.pyx:125-173): top-5 terms per topic."""
    return topk.top_n_terms_per_topic(q_topic_term_doc_counts(spark, sf_dir), 5, topic="lang")


def q_badwords_report(spark, sf_dir):
    """S16 (badwords.go:69-189): distinct flagged terms per doc, rel =
    abs/doc_len; clean docs drop out (inner-join semantics)."""
    tf = _tf(spark, sf_dir)
    return bw.badwords_report(tf, termstats.doc_lengths(tf), FLAGGED)


def q_stem_dict(spark, sf_dir):
    """S8/S11 (stemrevaggregator.go:53-61): stem -> shortest original,
    deterministic (len, word) tie-break."""
    terms = termstats.global_term_stats(_tf(spark, sf_dir)).select("term")
    return stemdict.stem_dict(terms)


def q_destem_terms(spark, sf_dir):
    """S14 (destemmer.pyx:45-82): broadcast left join, coalesce pass-through."""
    st = termstats.global_term_stats(_tf(spark, sf_dir))
    d = stemdict.stem_dict(st.select("term"))
    return stemdict.destem(st.select("term", "cf"), d).withColumnRenamed("term", "destemmed")


def q_semi_filter(spark, sf_dir):
    """S2 (filter.go:15-30): keep rows whose key is in a given list."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "n_chars")
    return filters.semi_filter(docs, "lang", ["en", "zh"])


def q_range_filter(spark, sf_dir):
    """S3 (filter.go:32-49): strict ts range predicate, pushed to scan."""
    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type")
    return filters.range_filter(ev, "ts", "2024-01-08 00:00:00", "2024-01-22 00:00:00")


def q_topn_recent(spark, sf_dir):
    """S4 (dumpreducer.go:44-60): 3 most-recent events per user
    (intended semantics; reference's heap quirk documented in SURVEY §2)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    return topk.top_n_recent_per_group(ev, "user_id", "ts", 3, tiebreak_col="event_id")


def q_bm25_or_topk(spark, sf_dir):
    """North-rule disjunctive BM25 top-k (relational formulation; the
    index engine is rank-identical — q_index_wand_topk)."""
    sc = _bm25_scores_df(spark, sf_dir, BM25_OR_TERMS)
    agg = sc.groupBy("doc_id").agg(F.sum("score_q").alias("score_q"))
    return agg.orderBy(F.desc("score_q"), F.asc("doc_id")).limit(TOPK)


def q_bm25_and_topk(spark, sf_dir):
    """Conjunctive BM25 top-k: doc must contain every query term."""
    sc = _bm25_scores_df(spark, sf_dir, BM25_AND_TERMS)
    agg = sc.groupBy("doc_id").agg(
        F.sum("score_q").alias("score_q"), F.countDistinct("term").alias("nt")
    )
    return (
        agg.filter(F.col("nt") == len(set(BM25_AND_TERMS)))
        .select("doc_id", "score_q")
        .orderBy(F.desc("score_q"), F.asc("doc_id"))
        .limit(TOPK)
    )


_NOCACHE_IDX_DIRS: dict[str, str] = {}  # per-process memo for catalog sources


def _entry_idx_cfg():
    from wikitfidf_spark.index.build import IndexConfig

    return IndexConfig(n_shards=8, n_salts=4, id_cols=(), topic_col="lang")


def _idx_cache_dir(sf_dir, cfg, tag: str = "") -> str:
    """Resolve the on-disk cache dir for an index variant over this
    corpus.  Cache key = full path + source file fingerprint + config
    (+ variant tag): two corpora sharing a dir basename, regenerated
    data at the same path, or two variants (plain/incremental/delete)
    must never reuse each other's dirs.  Catalog-table sources have no
    local file to fingerprint and their contents can change under the
    same identifier — a content-blind disk cache would silently serve a
    stale index, so those fall back to a per-PROCESS temp dir (queries
    of one driver run share one build, fresh runs rebuild)."""
    import hashlib as _hl

    from wikitfidf_spark.index.build import INDEX_FORMAT

    src = os.path.join(sf_dir, "documents.parquet")
    try:
        st = os.stat(src)
        fp = f"{st.st_size}|{st.st_mtime_ns}"
        key = (
            f"{os.path.abspath(src)}|{fp}|{sorted(cfg.to_json().items())}"
            f"|fmt{INDEX_FORMAT}|{tag}"
        )
        return f"/tmp/wikitfidf_idx_cache/{_hl.md5(key.encode()).hexdigest()[:12]}"
    except OSError:
        memo_key = f"{os.path.abspath(src)}|{sorted(cfg.to_json().items())}|{tag}"
        idx_dir = _NOCACHE_IDX_DIRS.get(memo_key)
        if idx_dir is None:
            import tempfile

            idx_dir = _NOCACHE_IDX_DIRS[memo_key] = tempfile.mkdtemp(
                prefix="wikitfidf_idx_nocache_"
            )
        return idx_dir


def _cached_index(spark, sf_dir):
    """Build (once per content fingerprint, cached on disk — or once
    per process for catalog sources with no file to fingerprint) the
    posting-list index over the documents table."""
    from wikitfidf_spark.index.build import build_index
    from wikitfidf_spark.index.query import InvertedIndex

    docs = _t(spark, sf_dir, "documents").withColumnRenamed("text", "content")
    cfg = _entry_idx_cfg()
    idx_dir = _idx_cache_dir(sf_dir, cfg)
    build_index(spark, docs, idx_dir, cfg)  # resumes instantly if built
    return InvertedIndex(spark, idx_dir)


def q_index_wand_topk(spark, sf_dir):
    """The actual engine: BM25_OR_TERMS via the per-shard top-k kernel
    (the entry name predates the single kernel).  Oracle = the same SQL
    as q_bm25_or_topk — rank-identity is the whole point."""
    from wikitfidf_spark.index.query import Query

    idx = _cached_index(spark, sf_dir)
    out = idx.topk_batch([Query(0, BM25_OR_TERMS, "OR", TOPK)])
    return out.select("doc_id", "score_q")


def q_index_taat_topk(spark, sf_dir):
    """The same engine call as q_index_wand_topk, registered under the
    kernel's name against the identical SQL oracle."""
    return q_index_wand_topk(spark, sf_dir)


def q_index_wildcard_topk(spark, sf_dir):
    """Wildcard search: the pattern expands against the index dictionary
    (JVM StartsWith + RLIKE, deterministic (df desc, term asc) cap —
    Lucene's multi-term rewrite), then the expansion scores as ONE
    disjunctive BM25 query.  The oracle re-derives the same capped
    expansion from the tokenizer CTE, so rank identity covers the
    expansion order too."""
    idx = _cached_index(spark, sf_dir)
    out = idx.wildcard_topk(WILD_PATTERN, k=TOPK, max_expansions=WILD_CAP)
    return out.select("doc_id", "score_q")


def q_index_msm_topk(spark, sf_dir):
    """Minimum-should-match: OR over the flagship terms but a doc must
    match >= MSM_N distinct terms to qualify (scores stay full OR
    sums) — the middle ground between OR recall and AND precision that
    real search serving runs constantly."""
    from wikitfidf_spark.index.query import Query

    idx = _cached_index(spark, sf_dir)
    out = idx.topk_batch(
        [Query(0, BM25_OR_TERMS, "OR", TOPK, min_should_match=MSM_N)]
    )
    return out.select("doc_id", "score_q")


def q_index_explain(spark, sf_dir):
    """Score-explain (Lucene's Explanation analogue): the per-(doc,
    term) BM25 breakdown — tf, df, doc_len and the exact stored
    quantized impact — for the flagship OR query's top-3 docs.  The
    doc selection is itself the oracled top-k cut, so the whole
    debug-path contract (which docs, which pairs, which components)
    is hash-checked."""
    idx = _cached_index(spark, sf_dir)
    top = [r["doc_id"] for r in idx.topk(BM25_OR_TERMS, k=EXPLAIN_DOCS).collect()]
    out = idx.explain(BM25_OR_TERMS, top)
    return out.select("doc_id", "term", "tf", "df", "doc_len", "score_q")


def q_index_collapse_topk(spark, sf_dir):
    """Field-collapsed top-k (Elasticsearch collapse): best-scoring doc
    per topic over the flagship OR query, groups ranked by their
    representative — result-diversity serving."""
    idx = _cached_index(spark, sf_dir)
    return idx.collapse_topk(BM25_OR_TERMS, field="topic", k=TOPK).select(
        "topic", "doc_id", "score_q"
    )


def q_index_facet_histogram(spark, sf_dir):
    """Range-facet aggregation (Elasticsearch range-agg analogue): the
    flagship OR query's match set bucketed by doc_len over HIST_EDGES
    half-open ranges; values outside [first, last) are dropped — both
    drop sides are in-corpus at every SF."""
    idx = _cached_index(spark, sf_dir)
    return idx.facet_histogram(BM25_OR_TERMS, "doc_len", HIST_EDGES)


#: the two-panel batch probe shared by the collapse/histogram batch
#: folds: the flagship OR panel plus the AND panel's term subset (the
#: overlap exercises the term→panel fan-out)
_BATCH_PANELS = [(0, BM25_OR_TERMS), (1, BM25_AND_TERMS)]


def q_index_significant_terms(spark, sf_dir):
    """Significant-terms aggregation (Elasticsearch analogue): terms
    over-represented in the flagship OR query's match set vs the
    corpus, scored by the exact-integer lift (fg_df*N)/(bg_df*m) —
    one IEEE division, engine-independent.  Membership decode ->
    tf-generation scan semi-joined to the match set -> dictionary
    join; the match count rides a broadcast one-row agg."""
    idx = _cached_index(spark, sf_dir)
    return idx.significant_terms(BM25_OR_TERMS, n=TOPK)


def q_index_rank_eval(spark, sf_dir):
    """Search-quality evaluation (Elasticsearch _rank_eval analogue):
    the flagship OR ranking graded against an independent relevance
    rule (docs containing EVERY query term = relevant) — P@k, R@k and
    MRR as exact single-division metrics.  One topk_batch + a
    broadcast qrels join + one partial agg."""
    from wikitfidf_spark.index.query import Query

    idx = _cached_index(spark, sf_dir)
    uniq = sorted(set(BM25_OR_TERMS))
    qrels = (
        idx.decoded_docs(uniq)
        .groupBy("doc_id")
        .agg(F.count_distinct("term").alias("_nt"))
        .filter(F.col("_nt") == len(uniq))
        .select(F.lit(0).alias("query_id"), "doc_id")
    )
    return idx.rank_eval([Query(0, list(BM25_OR_TERMS), "OR", TOPK)], qrels)


def q_index_bucket_hits(spark, sf_dir):
    """Top-hits-per-bucket (Elasticsearch top_hits-in-terms-agg): the
    flagship OR query's top-5 topic buckets (ranked by their best hit)
    each carrying its 2 best docs — the grouped result page."""
    idx = _cached_index(spark, sf_dir)
    return idx.bucket_top_hits(BM25_OR_TERMS, field="topic", n=2, k=5)


def q_index_facet_stats(spark, sf_dir):
    """Stats aggregation (Elasticsearch stats-agg analogue): count /
    min / max / sum / avg of doc_len over the flagship OR query's
    match set — the numeric summary panel next to search results.
    Integer doc_lens make every output exact, so the DuckDB compare
    is strict."""
    idx = _cached_index(spark, sf_dir)
    return idx.facet_stats(BM25_OR_TERMS, col="doc_len")


def q_index_collapse_batch(spark, sf_dir):
    """Two field-collapse panels in ONE job
    (InvertedIndex.collapse_topk_batch): one posting decode for the
    union of terms, broadcast term→panel fan-out, the same associative
    min-struct representative pick as the single-call path, one rank
    window per panel — row-identical per panel to
    index_collapse_topk's method."""
    idx = _cached_index(spark, sf_dir)
    return idx.collapse_topk_batch(_BATCH_PANELS, field="topic", k=TOPK).select(
        "query_id", "topic", "doc_id", "score_q"
    )


def q_index_hist_batch(spark, sf_dir):
    """Two range-facet histogram panels in ONE job
    (InvertedIndex.facet_histogram_batch): one decode for the union of
    terms, per-(panel, doc) distinct match sets, one docmeta join and
    one partial-agg count — row-identical per panel to
    index_facet_histogram's method."""
    idx = _cached_index(spark, sf_dir)
    return idx.facet_histogram_batch(_BATCH_PANELS, "doc_len", HIST_EDGES)


def q_index_filtered_topk(spark, sf_dir):
    """Metadata-filtered BM25 top-k through the ENGINE's cogrouped
    kernel (allowed docmeta ids co-shuffled by shard, vectorized mask):
    same terms as the unfiltered flagship, restricted to docs whose
    topic is 'en' — the filter+rank shape real search serving needs.
    Scores of surviving docs are identical to the unfiltered engine's
    (the oracle checks rank AND score); tests check the same path
    against a pure-Python BM25 restricted to the predicate's docs."""
    from wikitfidf_spark.index.query import Query

    idx = _cached_index(spark, sf_dir)
    out = idx.topk_batch([Query(0, BM25_OR_TERMS, "OR", TOPK)], predicate="topic = 'en'")
    return out.select("doc_id", "score_q")


def q_index_filtered_wand_topk(spark, sf_dir):
    """Metadata-filtered BM25 top-k through the ENGINE: the allowed
    docmeta ids cogroup with the posting shards and mask each shard's
    postings before its local cut — no post-filter over results.  OR
    mode over the flagship terms restricted to topic 'zh' (matching
    the registered oracle); the oracle checks rank AND score against
    the relational SQL formulation."""
    from wikitfidf_spark.index.query import Query

    idx = _cached_index(spark, sf_dir)
    out = idx.topk_batch(
        [Query(0, BM25_OR_TERMS, "OR", TOPK)], predicate="topic = 'zh'"
    )
    return out.select("doc_id", "score_q")


SNIPPET_WINDOW = 12                            # tokens per snippet
SNIPPET_BEFORE = 3                             # context tokens before the hit
MLT_M = 8                                      # more-like-this query terms


def q_index_mlt(spark, sf_dir):
    """More-like-this: the min-doc_id document's 8 strongest terms by
    reference TF-IDF (round4, ties term-asc) become a BM25 OR query
    served by the engine with the source doc excluded inside the
    per-shard kernel.  Term extraction is a predicate-pushdown point
    lookup on the doc-major tf artifact — the term-major postings are
    never scanned for it."""
    docs = _t(spark, sf_dir, "documents")
    src = int(docs.agg(F.min("doc_id")).collect()[0][0])
    idx = _cached_index(spark, sf_dir)
    out = idx.more_like_this(src, m=MLT_M, k=TOPK)
    return out.select("doc_id", "score_q")


def q_index_snippets(spark, sf_dir):
    """Result-page snippet generation — the serving feature after
    top-k: each engine hit joined back to its source text and cut to the
    SNIPPET_WINDOW tokens starting SNIPPET_BEFORE before the earliest
    query-term occurrence.  Extraction is pure JVM codegen
    (regexp_extract_all / array_position / slice / array_join); the ≤k
    hit ids broadcast into the documents scan, which never shuffles."""
    idx = _cached_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    return idx.snippets(
        docs, BM25_OR_TERMS, TOPK,
        window=SNIPPET_WINDOW, before=SNIPPET_BEFORE, text_col="text",
    )


def _cached_incremental_index(spark, sf_dir):
    """The round-3 ingest pipeline as a correctness surface: build the
    base index over 7/8 of the documents, `add_documents(
    refresh_scores=False)` the remaining 1/8 (the bounded-staleness
    delta: O(delta) encode, epoch-stale scores, zero existing shards
    re-encoded), then `refresh_scores` to close the window.  The
    converged index MUST be rank- and score-identical to one built
    fresh over the full corpus — its oracle is the same full-corpus
    BM25 SQL as the flagship."""
    import shutil as _sh

    from wikitfidf_spark.index.build import add_documents, build_index, refresh_scores
    from wikitfidf_spark.index.query import InvertedIndex

    docs = _t(spark, sf_dir, "documents").withColumnRenamed("text", "content")
    cfg = _entry_idx_cfg()
    idx_dir = _idx_cache_dir(sf_dir, cfg, tag="incr")
    done = os.path.join(idx_dir, "_INCR_DONE")
    if not os.path.exists(done):
        # the add step is not idempotent across reruns (duplicate
        # doc_ids are rejected by design) — restart from scratch unless
        # the whole pipeline completed
        _sh.rmtree(idx_dir, ignore_errors=True)
        split = F.pmod(F.xxhash64("doc_id"), F.lit(8)) == 0
        build_index(spark, docs.filter(~split), idx_dir, cfg)
        add_documents(spark, docs.filter(split), idx_dir, refresh_scores=False)
        refresh_scores(spark, idx_dir)
        with open(done, "w") as f:
            f.write("ok")
    return InvertedIndex(spark, idx_dir)


def q_index_incremental_topk(spark, sf_dir):
    """Engine top-k over an index assembled via the bounded-staleness
    ingest path (base build + deferred-refresh delta + refresh); the
    oracle is the full-corpus BM25 SQL — convergence to exact global
    scores is the checked property."""
    from wikitfidf_spark.index.query import Query

    idx = _cached_incremental_index(spark, sf_dir)
    out = idx.topk_batch([Query(0, BM25_OR_TERMS, "OR", TOPK)])
    return out.select("doc_id", "score_q")


def q_index_merged_topk(spark, sf_dir):
    """Engine top-k over an index assembled by ONE K-WAY MERGE of three
    independently built per-partition indexes (doc_id % 3 splits the
    corpus) — the 100-TB build pattern: partition, build slices in
    parallel with zero coordination, fold every slice together in a
    single merge_indexes call (O(Σ src), fixed per-merge costs paid
    once — not k-1 times as sequential pairwise folds would).
    The oracle is the full-corpus BM25 SQL: a merged index must be
    rank- AND score-identical to a monolithic build."""
    import shutil as _sh

    from wikitfidf_spark.index.build import build_index, merge_indexes
    from wikitfidf_spark.index.query import InvertedIndex, Query

    docs = _t(spark, sf_dir, "documents").withColumnRenamed("text", "content")
    cfg = _entry_idx_cfg()
    idx_dir = _idx_cache_dir(sf_dir, cfg, tag="kway3")
    done = os.path.join(idx_dir, "_MERGE_DONE")
    if not os.path.exists(done):
        _sh.rmtree(idx_dir, ignore_errors=True)
        src_dirs = [idx_dir + f"_src{i}" for i in (1, 2)]
        for d in src_dirs:
            _sh.rmtree(d, ignore_errors=True)
        # pmod, not %: Spark's % keeps the dividend's sign, so signed
        # (hash-derived) doc_ids would fall into slices -1/-2 and be
        # silently dropped from every slice
        slice_col = F.pmod(F.col("doc_id"), F.lit(3))
        build_index(spark, docs.filter(slice_col == 0), idx_dir, cfg)
        for i, d in enumerate(src_dirs, start=1):
            build_index(spark, docs.filter(slice_col == i), d, cfg)
        merge_indexes(spark, idx_dir, src_dirs)
        for d in src_dirs:
            _sh.rmtree(d, ignore_errors=True)  # dst is self-contained
        with open(done, "w") as f:
            f.write("ok")
    idx = InvertedIndex(spark, idx_dir)
    out = idx.topk_batch([Query(0, BM25_OR_TERMS, "OR", TOPK)])
    return out.select("doc_id", "score_q")


DELETE_MOD = 10  # delete docs with doc_id % 10 == 0 (~10% of the corpus)


def q_index_delete_topk(spark, sf_dir):
    """Engine top-k after delete_documents: build over the full corpus,
    tombstone ~10% of docs (doc_id % DELETE_MOD == 0 — deterministic in
    both engines), query; the oracle runs the same BM25 SQL over the
    corpus MINUS the deleted docs.  Exercises shard-scoped re-encode +
    exact global-stat refresh (idf/avgdl must reflect the smaller
    corpus, not just mask the rows)."""
    import shutil as _sh

    from wikitfidf_spark.index.build import build_index, delete_documents
    from wikitfidf_spark.index.query import InvertedIndex, Query

    docs = _t(spark, sf_dir, "documents").withColumnRenamed("text", "content")
    cfg = _entry_idx_cfg()
    idx_dir = _idx_cache_dir(sf_dir, cfg, tag=f"del{DELETE_MOD}")
    done = os.path.join(idx_dir, "_DEL_DONE")
    if not os.path.exists(done):
        _sh.rmtree(idx_dir, ignore_errors=True)  # delete is not re-runnable
        build_index(spark, docs, idx_dir, cfg)
        # tombstone set stays a distributed DataFrame end-to-end
        delete_documents(
            spark,
            docs.select("doc_id").filter(F.col("doc_id") % DELETE_MOD == 0),
            idx_dir,
        )
        with open(done, "w") as f:
            f.write("ok")
    idx = InvertedIndex(spark, idx_dir)
    out = idx.topk_batch([Query(0, BM25_OR_TERMS, "OR", TOPK)])
    return out.select("doc_id", "score_q")


def q_index_phrase_topk(spark, sf_dir):
    """Exact-phrase top-k through the ENGINE: docs containing
    PHRASE_TERMS as consecutive tokens, ranked by the phrase terms'
    BM25 sum.  Positions live in a separate optional artifact
    (index/positions.py) cogrouped with the posting shards; the oracle
    reproduces adjacency with a position self-join over the same
    tokenizer stream."""
    idx = _cached_index(spark, sf_dir)
    from wikitfidf_spark.index.build import load_manifest
    from wikitfidf_spark.index.positions import build_positions

    m = load_manifest(idx.index_dir)
    if int(m.get("positions_version", -1)) != int(m.get("version", 0)):
        docs = _t(spark, sf_dir, "documents").withColumnRenamed("text", "content")
        build_positions(spark, docs, idx.index_dir)
        from wikitfidf_spark.index.query import InvertedIndex

        idx = InvertedIndex(spark, idx.index_dir)  # re-read manifest
    return idx.phrase_topk(PHRASE_TERMS, TOPK).select("doc_id", "score_q")


def q_index_prefix_terms(spark, sf_dir):
    """Dictionary prefix search (autocomplete primitive): top-10
    highest-df terms starting with PREFIX_Q.  O(vocab) scan with the
    StartsWith predicate pushed into the dictionary parquet; top-n is
    a per-query rank cut — never touches postings or corpus."""
    idx = _cached_index(spark, sf_dir)
    return idx.prefix_terms(PREFIX_Q, 10)


def q_index_fuzzy_suggest(spark, sf_dir):
    """Spell-suggest over the term dictionary: terms within
    SUGGEST_DIST Levenshtein edits of SUGGEST_Q ranked (dist, df desc,
    term) — length-band prefilter + JVM levenshtein, no Python."""
    idx = _cached_index(spark, sf_dir)
    return idx.suggest(SUGGEST_Q, SUGGEST_DIST, 10)


def q_index_suggest_indexed(spark, sf_dir):
    """The SAME fuzzy-suggest answer through the SymSpell-style
    deletion-neighborhood index: precomputed delete-variant keys make
    the query an equi-join + tiny verify (O(candidates)) instead of an
    O(vocab) levenshtein scan — checked against the scan formulation's
    oracle, so the indexed path must be semantics-identical."""
    from wikitfidf_spark.index.build import load_manifest
    from wikitfidf_spark.index.suggest import build_suggest_index, suggest_indexed

    idx = _cached_index(spark, sf_dir)
    m = load_manifest(idx.index_dir)
    if (
        m["paths"].get("suggest") is None
        or int(m.get("suggest_version", -1)) != int(m.get("version", 0))
        or int(m.get("suggest_max_dist", 0)) < SUGGEST_DIST
    ):
        build_suggest_index(spark, idx.index_dir, max_dist=SUGGEST_DIST)
    return suggest_indexed(spark, idx.index_dir, SUGGEST_Q, SUGGEST_DIST, 10)


def q_index_prefix_batch(spark, sf_dir):
    """Two autocomplete panels served in ONE job
    (InvertedIndex.prefix_terms_batch): the prefix panel broadcasts
    against the O(vocab) dictionary with a StartsWith theta-join and
    one rank window per panel cuts each to n — index_prefix_terms is
    the one-panel case of the same method."""
    idx = _cached_index(spark, sf_dir)
    return idx.prefix_terms_batch([(0, PREFIX_Q), (1, PREFIX_Q2)], n=10)


def q_index_suggest_batch(spark, sf_dir):
    """Two fuzzy-suggest panels in ONE job
    (InvertedIndex.suggest_batch): the Levenshtein length band rides
    the broadcast theta-join condition so the O(len²) edit distance
    only runs on banded (term, query) pairs — row-identical per panel
    to index_fuzzy_suggest."""
    idx = _cached_index(spark, sf_dir)
    return idx.suggest_batch([(0, SUGGEST_Q), (1, SUGGEST_Q2)], SUGGEST_DIST, 10)


def q_index_facet_counts(spark, sf_dir):
    """Facet counts over the OR-match set of the flagship terms: live
    matching docs per topic (the aggregation panel next to search
    results).  Match set decoded from term-pruned postings, counted
    against docmeta — nothing O(corpus) but the pruned docmeta scan."""
    idx = _cached_index(spark, sf_dir)
    return idx.facet_counts(BM25_OR_TERMS, facet="topic")


NOT_TERMS = ("merge",)                      # must_not probe for index_not_topk
PAGE_OFFSET = 10                            # pagination probe: second page
BOOSTS = (1, 2, 4)                          # per-term boosts for index_boosted_topk


def q_index_boosted_topk(spark, sf_dir):
    """Per-term query boosts through the engine: the flagship terms
    weighted (1, 2, 4) — integer boosts scale each term's quantized
    impacts, so scores stay exact integers.  The
    weighted-field/query-weighting primitive."""
    from wikitfidf_spark.index.query import Query

    idx = _cached_index(spark, sf_dir)
    out = idx.topk_batch([Query(0, BM25_OR_TERMS, "OR", TOPK, boosts=BOOSTS)])
    return out.select("doc_id", "score_q")


def q_index_paged_topk(spark, sf_dir):
    """Deep paging through the engine: the flagship OR query's SECOND
    page (offset=PAGE_OFFSET, k=TOPK).  Each shard widens its local cut
    to offset+k; ranks stay absolute so page boundaries agree across
    requests.  Oracle: the same BM25 SQL with LIMIT/OFFSET over the
    identical deterministic order."""
    from wikitfidf_spark.index.query import Query

    idx = _cached_index(spark, sf_dir)
    out = idx.topk_batch([Query(0, BM25_OR_TERMS, "OR", TOPK, offset=PAGE_OFFSET)])
    return out.select("doc_id", "score_q", "rank")


def q_index_cursor_topk(spark, sf_dir):
    """Cursor pagination (Elasticsearch search_after): the flagship OR
    query's second page fetched by passing page 1's LAST hit as the
    (score_q, doc_id) cursor instead of an offset.  Each shard's local
    cut stays k — deep page P costs O(k) per shard, not O(offset+k),
    which is what makes paging sustainable at 100-TB index scale.
    Ranks are page-relative (1..k); the oracle re-derives the same
    rows as absolute ranks TOPK+1..2*TOPK shifted down by TOPK."""
    from wikitfidf_spark.index.query import Query

    idx = _cached_index(spark, sf_dir)
    p1 = idx.topk(BM25_OR_TERMS, k=TOPK).orderBy("rank").collect()
    cursor = (p1[-1]["score_q"], p1[-1]["doc_id"])
    out = idx.topk_batch([Query(0, BM25_OR_TERMS, "OR", TOPK, search_after=cursor)])
    return out.select("doc_id", "score_q", "rank")


def q_index_not_topk(spark, sf_dir):
    """Boolean NOT through the engine: the flagship OR query with docs
    containing NOT_TERMS excluded (must_not semantics — surviving docs
    keep their exact scores; excluded terms never contribute to
    scoring).  Exclusion is shard-local: an excluded doc's postings
    live in the same doc-partitioned shard as its scored postings, so
    the mask never crosses shards."""
    from wikitfidf_spark.index.query import Query

    idx = _cached_index(spark, sf_dir)
    out = idx.topk_batch([Query(0, BM25_OR_TERMS, "OR", TOPK, exclude=NOT_TERMS)])
    return out.select("doc_id", "score_q")


SYN_GROUPS = [["join", "merge"], ["dup"]]   # synonym sets: one logical term each
_SYN_VALUES = ", ".join(
    f"('{t}', {gi})" for gi, g in enumerate(SYN_GROUPS) for t in g
)  # the oracle's term->gid VALUES literal derives from SYN_GROUPS


def q_index_synonym_topk(spark, sf_dir):
    """Synonym-expanded BM25 top-k with PROPER group statistics (group
    tf = sum of member tfs per doc, group df = docs containing ANY
    member) — a synonym set scores as one logical term instead of
    over-weighting near-duplicate idf contributions."""
    idx = _cached_index(spark, sf_dir)
    return idx.synonym_topk(SYN_GROUPS, TOPK)


def q_index_hybrid_rerank(spark, sf_dir):
    """Hybrid lexical+dense retrieval: BM25 top-HYBRID_M candidates
    from the index, re-scored by quantized cosine against vec_id=0's
    embedding, fused by reciprocal-rank fusion (RRF, k=RRF_K), top
    TOPK.  The m-bounded candidate set is broadcast against the
    embedding table — the dense side is never shuffled."""
    idx = _cached_index(spark, sf_dir)
    vecs = _t(spark, sf_dir, "embeddings")
    qvec = vecs.filter(F.col("vec_id") == 0).select("embedding").take(1)[0]["embedding"]
    return idx.hybrid_topk(
        BM25_OR_TERMS, vecs, qvec, k=TOPK, m=HYBRID_M, rrf_k=RRF_K
    )


def q_index_hybrid_batch(spark, sf_dir):
    """Two hybrid RRF queries (different terms AND different query
    vectors: vec_id 0 and vec_id 1) in ONE pipeline
    (InvertedIndex.hybrid_topk_batch): one topk_batch serves both BM25
    pools, each pool picks up its vector from a broadcast panel, and
    the labeled m-bounded candidate set broadcasts once against the
    embedding table — row-identical per panel to index_hybrid_rerank's
    plan."""
    idx = _cached_index(spark, sf_dir)
    vecs = _t(spark, sf_dir, "embeddings")
    qv = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in vecs.filter(F.col("vec_id").isin([0, 1])).collect()
    }
    return idx.hybrid_topk_batch(
        [(0, BM25_OR_TERMS, qv[0]), (1, BM25_AND_TERMS, qv[1])],
        vecs, k=TOPK, m=HYBRID_M, rrf_k=RRF_K,
    )


def q_dedup_exact(spark, sf_dir):
    """Exact dedup groups: md5(text) -> representative + group size."""
    return dedup.exact_dup_groups(_docs(spark, sf_dir))


#: eval-set carve-out for the decontamination probe: every 37th doc
#: plays the held-out benchmark, the rest the training corpus.  The
#: synthetic corpus's tiny vocabulary makes 5 the selective gram
#: length here (production default is decontam.DECON_N = 13)
DECON_EVAL_MOD = 37
DECON_TEST_N = 5


def q_dup_spans(spark, sf_dir):
    """Corpus-internal duplicated-span report (Lee et al. 2021 intra-
    corpus half): per doc, the fraction of its n-grams shared with
    >= 2 distinct docs — the boilerplate/template filter exact and
    MinHash dedup both miss.  One uniform md5-gram hash agg + one
    gram-keyed equi-join; all JVM codegen."""
    return decontam.dup_span_report(_docs(spark, sf_dir), n=DECON_TEST_N)


def q_index_function_score(spark, sf_dir):
    """Function-score ranking (Elasticsearch field_value_factor,
    modifier none): BM25 score_q x doc_len over the flagship OR
    query's WHOLE match set (a low-BM25 doc with a large factor can
    win, so no top-m pool cut) — integer x integer keeps every score
    exact for the hash compare."""
    idx = _cached_index(spark, sf_dir)
    return idx.function_score_topk(BM25_OR_TERMS, k=TOPK, factor="doc_len")


def q_decontaminate(spark, sf_dir):
    """Eval-set decontamination (GPT-3 appendix-C / Lee et al. 2021):
    per-train-doc n-gram overlap with a held-out eval split — the
    pre-training filter that keeps benchmark answers out of the
    training corpus.  Eval grams are distinct + broadcast (the
    benchmark side is always small); the corpus side is one tokenize →
    gram projection + broadcast hash join, never shuffled.  Returns
    contaminated docs only: (doc_id, n_hit_grams, n_grams, hit_frac)."""
    docs = _docs(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % DECON_EVAL_MOD == 0)
    tr = docs.filter(F.col("doc_id") % DECON_EVAL_MOD != 0)
    return decontam.contamination_report(tr, ev, n=DECON_TEST_N)


def q_minhash_candidates(spark, sf_dir):
    """MinHash-LSH near-dup candidate pairs over 3-token shingle sets
    (16 hashes × 4 rows/band).  Selective by construction — candidates
    stay a small fraction of n²/2 (tests assert a ratio bound) while
    exact duplicates always collide on every band."""
    sh = dedup.shingle_sets(_docs(spark, sf_dir))
    return dedup.minhash_candidates(sh)


def q_jaccard_pairs(spark, sf_dir):
    """Candidate-then-verify: exact shingle-set Jaccard on the LSH
    candidates, thresholded at 0.5 — the precision stage matching the
    similarity the signatures approximate."""
    sh = dedup.shingle_sets(_docs(spark, sf_dir))
    pairs = dedup.minhash_candidates(sh)
    return dedup.jaccard_on_pairs(pairs, sh).filter(F.col("jaccard") >= 0.5).select(
        "a", "b", "inter", "size_a", "size_b",
        round_half_up(F.col("jaccard"), 6).alias("jaccard"),
    )


def q_dedup_clusters(spark, sf_dir):
    """Near-dup clustering: connected components (min-label
    propagation) over the Jaccard-verified pair graph — the step
    between pair generation and canonical-doc selection (pairwise
    dedup under-deletes transitive groups).  Deterministic integer
    labels; oracle = a DuckDB recursive transitive closure."""
    sh = dedup.shingle_sets(_docs(spark, sf_dir))
    pairs = dedup.jaccard_on_pairs(dedup.minhash_candidates(sh), sh).filter(
        F.col("jaccard") >= 0.5
    )
    return dedup.connected_components(pairs).orderBy("doc_id")


def q_simhash(spark, sf_dir):
    """tf-weighted 16-bit SimHash fingerprints (near-dup banding key)."""
    return dedup.simhash(_tf(spark, sf_dir))


def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 to vec_id=0 (quantized int dot sums)."""
    return similarity.cosine_topk_bruteforce(_t(spark, sf_dir, "embeddings"), query_id=0, k=10)


def q_ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed cosine top-10 (the 10^9-vector scale path): bucket
    by deterministic quantized-sign hyperplane signature, brute-force
    only within the query's bucket."""
    return similarity.cosine_topk_lsh(
        _t(spark, sf_dir, "embeddings"), query_id=0, k=10, n_planes=LSH_PLANES
    )


def q_ann_ivf_topk(spark, sf_dir):
    """IVF-flat ANN top-10: coarse-assign vectors to their nearest
    quantizer cell (integer-quantized argmax — bit-identical across
    engines), probe the query's nprobe nearest cells, brute-force
    inside them.  The inverted-file scale path next to the LSH one."""
    return similarity.cosine_topk_ivf(
        _t(spark, sf_dir, "embeddings"), query_id=0, k=10,
        n_cells=IVF_CELLS, nprobe=IVF_NPROBE,
    )


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (exact all-pairs baseline,
    quantized int dot sums; LSH-candidate variant in
    operators/similarity.cosine_pairs_lsh)."""
    return similarity.cosine_pairs_exact(
        _t(spark, sf_dir, "embeddings"), threshold=NEAR_DUP_COS
    )


def q_embedding_near_dup_lsh(spark, sf_dir):
    """The 10^9-vector near-dup path, oracle-checked: candidates =
    collision in ANY of NEAR_DUP_BANDS independent NEAR_DUP_PLANES-bit
    signature bands (equi-joins + distinct — no cross join anywhere in
    the plan, asserted in tests/test_plans.py), then the exact
    quantized-cosine verify kernel.  Banding is the recall lever
    (measured at sf0.01: 16×8 bands catch 2.4× the pairs of round 2's
    single 4-bit table at the same ~7% candidate rate; the planted-dup
    pytest proves ≥0.9 recall at cos ≥ 0.6 with P=12,R=100).
    Approximate by design; the exact all-pairs anchor is
    q_embedding_near_dup."""
    return similarity.cosine_pairs_lsh(
        _t(spark, sf_dir, "embeddings"), threshold=NEAR_DUP_COS,
        n_planes=NEAR_DUP_PLANES, n_bands=NEAR_DUP_BANDS,
    )


def q_content_sha256(spark, sf_dir):
    """The input_hint per-row invariant, as a checked query: the engine
    never mutates content — sha256 over the scanned text column matches
    the oracle's sha256 over the same parquet bytes."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.sha2(F.col("text"), 256).alias("sha")
    )


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing: binary payload + typed metadata ->
    Arrow-batched feature extraction (operators/multimodal.py).  The
    feature vector is posexploded to (pos, value) rows so the result is
    canonicalizable (array columns aren't pandas-hashable), and — since
    the stand-in decoder is sha256-based — fully oracle-checkable."""
    media = multimodal.attach_binary_payload(_docs(spark, sf_dir))
    feats = multimodal.extract_features(media)
    return feats.select(
        "doc_id", "n_bytes", "payload_sha256",
        F.posexplode("features").alias("pos", "value"),
    )


def q_frame_samples(spark, sf_dir):
    """Multimodal frame-sampling plumbing: every-2nd 16-byte frame of
    the binary payload, one row per sampled frame (hex-encoded so both
    engines compare strings, not engine-specific binary types).  The
    stand-in demuxer is deterministic byte-chunking; the Spark shape
    (Arrow batch -> one-to-many fan-out) is production-real."""
    media = multimodal.attach_binary_payload(_docs(spark, sf_dir))
    fr = multimodal.sample_frames(media, frame_bytes=FRAME_BYTES, every_n=FRAME_EVERY)
    return fr.select("doc_id", "frame_idx", F.hex("frame").alias("frame_hex"))


def q_resize_payload(spark, sf_dir):
    """Multimodal resize plumbing: truncate/zero-pad the binary payload
    to RESIZE_BYTES (deterministic stand-in for decode+resample —
    hex-encoded so both engines compare strings)."""
    media = multimodal.attach_binary_payload(_docs(spark, sf_dir))
    rs = multimodal.resize_payload(media, target_bytes=RESIZE_BYTES)
    return rs.select("doc_id", F.hex("payload").alias("payload_hex"), "n_bytes")


def q_token_counts(spark, sf_dir):
    return textstats.token_counts(_docs(spark, sf_dir))


COOC_TERM = "join"   # PMI association target (hot term -> rich panel)

SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}  # dataset_split mix
SPLIT_SEED = 7
STRAT_FRACTIONS = {"en": 0.5, "zh": 0.2}  # per-language sample rates


def q_dataset_split(spark, sf_dir):
    """Deterministic train/val/test assignment (the training-pipeline
    primitive in front of dedup/quality): md5-unit-hash thresholds,
    engine-independent and stable under dataset growth — a row's split
    is a pure function of (seed, doc_id).  Pure codegen projection, no
    shuffle, no UDF (operators/sampling.py)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return sampling.split_assign(docs, SPLIT_WEIGHTS, seed=SPLIT_SEED)


def q_stratified_sample(spark, sf_dir):
    """Per-stratum deterministic sampling over the same unit hash:
    keep 50% of en docs, 20% of zh, 0% elsewhere (explicit opt-in per
    stratum).  The threshold filter sits directly on the scan."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return sampling.stratified_sample(
        docs, STRAT_FRACTIONS, strata_col="lang", seed=SPLIT_SEED
    )


def _split_case_sql() -> str:
    """CASE branches for the dataset_split oracle, generated with the
    SAME python float arithmetic split_assign uses (repr round-trips
    the exact IEEE thresholds into DuckDB)."""
    total = float(sum(SPLIT_WEIGHTS.values()))
    names = list(SPLIT_WEIGHTS)
    cum, branches = 0.0, []
    for name in names[:-1]:
        cum += float(SPLIT_WEIGHTS[name]) / total
        branches.append(f"WHEN u < {cum!r} THEN '{name}'")
    return "CASE " + " ".join(branches) + f" ELSE '{names[-1]}' END"


#: the unit-hash SQL shared by both sampling oracles — same md5-hex ->
#: 60-bit int -> exact /2^60 contract the Spark operator computes
_UNIT_SQL = (
    "(('0x' || substr(md5('{seed}|' || coalesce(md5(doc_id::varchar), '-')),"
    " 1, 15))::bigint)::double / 1152921504606846976.0"
).format(seed=SPLIT_SEED)

#: per-stratum fraction branches (exact IEEE literals via repr)
_STRAT_CASE = " ".join(
    f"WHEN '{k}' THEN {float(v)!r}" for k, v in sorted(STRAT_FRACTIONS.items())
)


def q_term_cooccurrence(spark, sf_dir):
    """Doc-level co-occurrence + PMI against COOC_TERM: the related-
    terms / query-expansion primitive.  The pair join probes only the
    target's doc set (selective left side), never all term pairs."""
    return textstats.term_cooccurrence(_tf(spark, sf_dir), COOC_TERM)


def q_quality_scores(spark, sf_dir):
    return textstats.quality_scores(_docs(spark, sf_dir))


def q_lang_id(spark, sf_dir):
    return textstats.lang_id(_docs(spark, sf_dir))


def q_fingerprints(spark, sf_dir):
    return textstats.fingerprints(_docs(spark, sf_dir))


def q_events_windowed(spark, sf_dir):
    """Hourly tumbling windows (same transformation runs as a streaming
    job with watermark — wikitfidf_spark/streaming/jobs.py)."""
    return stream_jobs.windowed_counts(_t(spark, sf_dir, "events"), "1 hour")


def q_events_dedup(spark, sf_dir):
    """Exact event dedup on (user, type, ts) — the batch anchor of the
    streaming withWatermark+dropDuplicates job (streaming/jobs.py),
    parity-tested in tests/test_pipeline_ops.py."""
    return stream_jobs.dedup_events(_t(spark, sf_dir, "events"))


def q_sessionize(spark, sf_dir):
    """Sessionization: 30-min-gap sessions per user (lag + running sum)."""
    return stream_jobs.sessionize(_t(spark, sf_dir, "events"), gap_minutes=30)


def q_trending_terms(spark, sf_dir):
    """Trending terms: watermarked windowed term counts + per-window
    top-k — the streaming analogue of global_top_terms (S18), here in
    its batch anchor form over documents with a deterministic derived
    ts (streaming/jobs.py trending_term_counts/topk_terms_per_window;
    streaming parity in tests/test_pipeline_ops.py)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.timestamp_seconds(
            F.lit(1_700_000_000) + (F.col("doc_id") % 8) * 1800
        ).alias("ts"),
        "text",
    )
    counts = stream_jobs.trending_term_counts(docs, window="1 hour")
    return stream_jobs.topk_terms_per_window(counts, k=5).select(
        "window_start", "term", "n", "rank"
    )


def q_lineitem_pricing(spark, sf_dir):
    """TPC-H-Q1-shaped agg (partial+final hash agg; quantized int sums
    keep double aggregation deterministic across engines)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    qty_q = F.floor(F.col("l_quantity") * 100 + 0.5).cast("long")
    rev_q = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5).cast("long")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_q).alias("sum_qty_q"),
            F.sum(rev_q).alias("sum_rev_q"),
            F.count("*").alias("n_rows"),
        )
    )


def q_broadcast_join_agg(spark, sf_dir):
    """Broadcast-dim join (reference's build-side-in-memory pattern,
    tfidf.go:45): revenue per part brand."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev_q = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5).cast("long")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(F.sum(rev_q).alias("rev_q"), F.count("*").alias("n_items"))
    )


def q_rollup_orders(spark, sf_dir):
    """Rollup aggregation (grouping-set coverage)."""
    o = _t(spark, sf_dir, "orders")
    price_q = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.sum(price_q).alias("total_q"))
    )


#: Entries moved OUT of the driver-checked window (it verifies the
#: first 50 registered queries) into the pytest-checked fold
#: (tests/test_folded_oracles.py runs the SAME spark-vs-DuckDB compare
#: over these at sf0.001).  Each folded entry is a near-duplicate of a
#: checked row: a second physical strategy over an identical oracle, a
#: restriction of a checked query, or one stage of a checked pipeline.
FOLDED_QUERIES = frozenset({
    "tfidf_single_term",       # restriction of tfidf_topn_per_doc (same formula)
    "index_taat_topk",         # same engine call, oracle identical to index_wand_topk
    "index_filtered_topk",     # filtered engine call; index_filtered_wand_topk keeps the row
    "index_fuzzy_suggest",     # scan path; shares _SUGGEST_ORACLE with the indexed row
    "embedding_near_dup",      # exact all-pairs anchor of embedding_near_dup_lsh
    "minhash_candidates",      # the candidate stage inside jaccard_pairs' plan
    "simhash",                 # fingerprint variant; 'fingerprints' keeps the row
    "stratified_sample",       # per-stratum restriction of dataset_split's kernel
    "token_counts",            # n_tokens is also a checked quality_scores column
    "frame_samples",           # multimodal_features keeps the family's row
    "resize_payload",          # multimodal_features keeps the family's row
    "events_dedup",            # DISTINCT anchor; streaming family keeps 2 rows
    "trending_terms",          # streaming top-k family; batch anchor oracled here
    "index_prefix_batch",      # batch formulation of index_prefix_terms
    "index_wildcard_topk",     # dictionary expansion + the OR top-k family's scorer
    "index_msm_topk",          # count-constrained restriction of index_wand_topk
    "index_explain",           # per-(doc,term) decomposition of index_wand_topk's sums
    "index_facet_histogram",   # range-bucketed variant of index_facet_counts' match set
    "index_collapse_topk",     # per-field restriction of the OR top-k family's ranking
    "index_suggest_batch",     # batch formulation of index_fuzzy_suggest
    "index_hybrid_batch",      # batch formulation of index_hybrid_rerank
    "index_collapse_batch",    # batch formulation of index_collapse_topk
    "index_hist_batch",        # batch formulation of index_facet_histogram
    "index_cursor_topk",       # cursor formulation of index_paged_topk's page
    "index_facet_stats",       # stats variant of index_facet_counts' match set
    "ann_lsh_topk",            # bucketed strategy variant of ann_cosine_topk;
                               # ann_ivf_topk keeps the scale-path driver row
    "dup_spans",               # corpus-internal variant of decontaminate's grams
    "index_function_score",    # factor-weighted variant of the OR top-k ranking
    "index_significant_terms", # lift-ranked variant of index_facet_counts' match set
    "index_rank_eval",         # metric view over index_wand_topk's ranking
    "dedup_clusters",          # closure over jaccard_pairs' verified graph
    "index_bucket_hits",       # n-per-bucket generalization of index_collapse_topk
})


def _all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "term_frequency": q_term_frequency,
        "doc_lengths": q_doc_lengths,
        "global_term_stats": q_global_term_stats,
        "global_top_terms": q_global_top_terms,
        "stopword_term_stats": q_stopword_term_stats,
        "tfidf_topn_per_doc": q_tfidf_topn_per_doc,
        "tfidf_single_term": q_tfidf_single_term,
        "topic_term_doc_counts": q_topic_term_doc_counts,
        "topic_top_terms": q_topic_top_terms,
        "badwords_report": q_badwords_report,
        "stem_dict": q_stem_dict,
        "destem_terms": q_destem_terms,
        "semi_filter": q_semi_filter,
        "range_filter": q_range_filter,
        "topn_recent": q_topn_recent,
        "bm25_or_topk": q_bm25_or_topk,
        "bm25_and_topk": q_bm25_and_topk,
        "index_wand_topk": q_index_wand_topk,
        "index_taat_topk": q_index_taat_topk,
        "index_wildcard_topk": q_index_wildcard_topk,
        "index_msm_topk": q_index_msm_topk,
        "index_explain": q_index_explain,
        "index_facet_histogram": q_index_facet_histogram,
        "index_facet_stats": q_index_facet_stats,
        "index_significant_terms": q_index_significant_terms,
        "index_rank_eval": q_index_rank_eval,
        "index_bucket_hits": q_index_bucket_hits,
        "index_hist_batch": q_index_hist_batch,
        "index_collapse_topk": q_index_collapse_topk,
        "index_collapse_batch": q_index_collapse_batch,
        "index_filtered_topk": q_index_filtered_topk,
        "index_filtered_wand_topk": q_index_filtered_wand_topk,
        "index_snippets": q_index_snippets,
        "index_mlt": q_index_mlt,
        "index_incremental_topk": q_index_incremental_topk,
        "index_phrase_topk": q_index_phrase_topk,
        "index_delete_topk": q_index_delete_topk,
        "index_merged_topk": q_index_merged_topk,
        "index_prefix_terms": q_index_prefix_terms,
        "index_prefix_batch": q_index_prefix_batch,
        "index_fuzzy_suggest": q_index_fuzzy_suggest,
        "index_suggest_batch": q_index_suggest_batch,
        "index_suggest_indexed": q_index_suggest_indexed,
        "index_facet_counts": q_index_facet_counts,
        "index_not_topk": q_index_not_topk,
        "index_paged_topk": q_index_paged_topk,
        "index_cursor_topk": q_index_cursor_topk,
        "index_boosted_topk": q_index_boosted_topk,
        "index_synonym_topk": q_index_synonym_topk,
        "index_hybrid_rerank": q_index_hybrid_rerank,
        "index_hybrid_batch": q_index_hybrid_batch,
        "dataset_split": q_dataset_split,
        "stratified_sample": q_stratified_sample,
        "dedup_exact": q_dedup_exact,
        "decontaminate": q_decontaminate,
        "dup_spans": q_dup_spans,
        "index_function_score": q_index_function_score,
        "minhash_candidates": q_minhash_candidates,
        "jaccard_pairs": q_jaccard_pairs,
        "dedup_clusters": q_dedup_clusters,
        "simhash": q_simhash,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "embedding_near_dup": q_embedding_near_dup,
        "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
        "content_sha256": q_content_sha256,
        "multimodal_features": q_multimodal_features,
        "frame_samples": q_frame_samples,
        "resize_payload": q_resize_payload,
        "token_counts": q_token_counts,
        "term_cooccurrence": q_term_cooccurrence,
        "quality_scores": q_quality_scores,
        "lang_id": q_lang_id,
        "fingerprints": q_fingerprints,
        "events_windowed": q_events_windowed,
        "events_dedup": q_events_dedup,
        "trending_terms": q_trending_terms,
        "sessionize": q_sessionize,
        "lineitem_pricing": q_lineitem_pricing,
        "broadcast_join_agg": q_broadcast_join_agg,
        "rollup_orders": q_rollup_orders,
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The driver-checked surface: every operator family, ≤50 entries
    so none falls off the driver's 50-row correctness window."""
    return {k: v for k, v in _all_queries().items() if k not in FOLDED_QUERIES}


def folded_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Near-duplicate variants verified by pytest against the same
    DuckDB oracles (tests/test_folded_oracles.py) instead of occupying
    driver-window rows."""
    return {k: v for k, v in _all_queries().items() if k in FOLDED_QUERIES}


# ---------------------------------------------------------------- oracles

_SUGGEST_ORACLE = f"""
            WITH {_TOK_CTE},
            st AS (SELECT term, count(*)::bigint AS df FROM tf GROUP BY 1)
            SELECT term, levenshtein(term, '{SUGGEST_Q}')::int AS dist, df FROM st
            WHERE abs(length(term) - {len(SUGGEST_Q)}) <= {SUGGEST_DIST}
              AND levenshtein(term, '{SUGGEST_Q}') <= {SUGGEST_DIST}
            ORDER BY dist ASC, df DESC, term ASC LIMIT 10
        """  # ONE formulation for both the scan and the indexed path




def _plane_values_sql(n_planes: int = LSH_PLANES) -> str:
    """The LSH hyperplane matrix as a (pos, j, coef) VALUES literal —
    repr() round-trips doubles exactly, so DuckDB multiplies the same
    IEEE values numpy does (pos is 1-based to match
    generate_subscripts)."""
    planes = similarity.lsh_planes(EMB_DIM, n_planes)
    return ", ".join(
        f"({i + 1}, {j}, {planes[i, j].item()!r})"  # .item(): numpy>=2 repr
        # of a float64 scalar is 'np.float64(...)', not a SQL literal
        for i in range(EMB_DIM)
        for j in range(n_planes)
    )


def _centroid_values_sql() -> str:
    """The IVF coarse-quantizer matrix as a (cell, pos, coef) VALUES
    literal — same repr round-trip contract as _plane_values_sql."""
    cent = similarity.ivf_centroids(EMB_DIM, IVF_CELLS)
    return ", ".join(
        f"({j}, {i + 1}, {cent[j, i].item()!r})"
        for j in range(IVF_CELLS)
        for i in range(EMB_DIM)
    )


def _minhash_cte_sql() -> str:
    """Shingle + signature + band + candidate-pair CTEs, generated from
    the same (k, n_hashes, rows_per_band) constants the Spark operators
    use (operators/dedup.py) — oracle lockstep by construction."""
    k, n, r = dedup.SHINGLE_K, dedup.MINHASH_N, dedup.MINHASH_ROWS_PER_BAND
    mins = ",\n                     ".join(
        f"min(md5('{i}:' || term)) AS s{i}" for i in range(n)
    )
    bands = "\n              UNION ALL\n              ".join(
        "SELECT doc_id, {j} AS band_idx, {e} AS band FROM sig".format(
            j=j, e=" || '|' || ".join(f"s{j * r + q}" for q in range(r)),
        )
        for j in range(n // r)
    )
    return f"""
            tarr AS (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_REGEX}') AS toks FROM documents),
            terms AS (
              -- zero-token docs drop out (empty/NULL shingle), exactly
              -- like the Spark side's term != '' filter
              SELECT DISTINCT doc_id, term FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, greatest(len(toks) - {k - 1}, 1) + 1),
                              i -> array_to_string(toks[i:i+{k - 1}], ' '))) AS term
                FROM tarr
              ) WHERE term IS NOT NULL AND term != ''
            ),
            sig AS (SELECT doc_id, {mins} FROM terms GROUP BY doc_id),
            bands AS (
              {bands}
            ),
            pairs AS (
              SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
              FROM bands l JOIN bands r ON l.band_idx = r.band_idx AND l.band = r.band
              WHERE l.doc_id < r.doc_id
            )
    """


_STOP_SQL = ", ".join(f"'{s}'" for s in textstats.STOPWORDS)
_MARK_SQL = ", ".join(f"'{m}'" for m in textstats.EN_MARKERS)
_FLAG_SQL = ", ".join(f"'{w}'" for w in FLAGGED)
_OR_SQL = ", ".join(f"'{t}'" for t in BM25_OR_TERMS)
_NOT_SQL = ", ".join(f"'{t}'" for t in NOT_TERMS)
_BOOST_SQL = ", ".join(f"('{t}', {b})" for t, b in zip(BM25_OR_TERMS, BOOSTS))
_AND_SQL = ", ".join(f"'{t}'" for t in BM25_AND_TERMS)
#: (query_id, term) VALUES rows for the collapse/histogram batch folds
#: — mirrors the engine's per-panel term dedup (sorted(set(terms)))
_PANEL_SQL = ", ".join(
    f"({qid}, '{t}')"
    for qid, terms in _BATCH_PANELS
    for t in sorted(set(terms))
)
# anchored ^…$ regex over ./.*/literals only — a fragment dialect Java
# regex (engine RLIKE) and RE2 (DuckDB regexp_matches) agree on
from wikitfidf_spark.index.query import wildcard_regex as _wildcard_regex  # noqa: E402

_WILD_RX = _wildcard_regex(WILD_PATTERN)[0]

_BM25_OR_BODY = _BM25_CTE % {"terms": _OR_SQL} + f"""
SELECT doc_id, sum(score_q)::bigint AS score_q
FROM sc GROUP BY doc_id
ORDER BY score_q DESC, doc_id ASC LIMIT {TOPK}
"""

# delete oracle: the SAME BM25 SQL with tombstoned docs excluded at the
# source — global df/avgdl/N recompute over the survivors, exactly what
# delete_documents' exact-stat refresh must reproduce
_BM25_DELETE_BODY = (
    _BM25_CTE.replace(
        # %% survives the %-format below as a literal SQL modulo
        "FROM documents", f"FROM documents WHERE doc_id %% {DELETE_MOD} != 0"
    )
    % {"terms": _OR_SQL}
    + f"""
SELECT doc_id, sum(score_q)::bigint AS score_q
FROM sc GROUP BY doc_id
ORDER BY score_q DESC, doc_id ASC LIMIT {TOPK}
"""
)

_PHRASE_SQL = ", ".join(f"'{t}'" for t in PHRASE_TERMS)
# phrase oracle: the BM25 CTE over the phrase's terms, restricted to
# docs where a position self-join over the SAME tokenizer stream finds
# the terms at consecutive positions (zipped unnests give 0-based token
# positions — identical semantics to index/positions.py)
_BM25_PHRASE_BODY = _BM25_CTE % {"terms": _PHRASE_SQL} + f"""
, ptok AS (
  SELECT doc_id, unnest(l) AS term, unnest(range(len(l))) AS pos
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_REGEX}') AS l FROM documents)
),
phrase_docs AS (
  SELECT DISTINCT a.doc_id
  FROM ptok a JOIN ptok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.term = '{PHRASE_TERMS[0]}' AND b.term = '{PHRASE_TERMS[1]}'
)
SELECT doc_id, sum(score_q)::bigint AS score_q
FROM sc WHERE doc_id IN (SELECT doc_id FROM phrase_docs)
GROUP BY doc_id
ORDER BY score_q DESC, doc_id ASC LIMIT {TOPK}
"""


def _all_oracle_sql() -> dict[str, str]:
    return {
        "term_frequency": f"WITH {_TOK_CTE} SELECT doc_id, term, tf FROM tf",
        "doc_lengths": f"WITH {_TOK_CTE} SELECT doc_id, sum(tf)::bigint AS doc_len FROM tf GROUP BY 1",
        "global_term_stats": f"WITH {_TOK_CTE} SELECT term, sum(tf)::bigint AS cf, count(*)::bigint AS df FROM tf GROUP BY 1",
        "global_top_terms": f"""
            WITH {_TOK_CTE}
            SELECT term, sum(tf)::bigint AS cf, count(*)::bigint AS df FROM tf GROUP BY 1
            ORDER BY cf DESC, term ASC LIMIT 25
        """,
        "stopword_term_stats": f"""
            WITH {_TOK_CTE}
            SELECT term, sum(tf)::bigint AS cf, count(*)::bigint AS df FROM tf
            WHERE term NOT IN ({", ".join(f"'{s}'" for s in STOP_TERMS)})
            GROUP BY 1
        """,
        "tfidf_topn_per_doc": f"""
            WITH {_TOK_CTE},
            dl AS (SELECT doc_id, sum(tf)::bigint AS doc_len FROM tf GROUP BY 1),
            st AS (SELECT term, count(*)::bigint AS df FROM tf GROUP BY 1),
            tot AS (SELECT count(*)::bigint AS n FROM dl),
            scored AS (
              SELECT tf.doc_id, tf.term, tf.tf,
                     floor((tf.tf::double / dl.doc_len::double)
                           * log10(tot.n::double / st.df::double) * 10000 + 0.5) / 10000 AS tfidf
              FROM tf JOIN dl USING (doc_id) JOIN st USING (term) CROSS JOIN tot
            )
            SELECT * FROM (
              SELECT doc_id, term, tf, tfidf,
                     row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC)::int AS rank
              FROM scored
            ) WHERE rank <= 10
        """,
        "tfidf_single_term": f"""
            WITH {_TOK_CTE},
            dl AS (SELECT doc_id, sum(tf)::bigint AS doc_len FROM tf GROUP BY 1),
            st AS (SELECT term, count(*)::bigint AS df FROM tf GROUP BY 1),
            tot AS (SELECT count(*)::bigint AS n FROM dl)
            SELECT tf.doc_id,
                   floor((tf.tf::double / dl.doc_len::double)
                         * log10(tot.n::double / st.df::double) * 10000 + 0.5) / 10000 AS tfidf
            FROM tf JOIN dl USING (doc_id) JOIN st USING (term) CROSS JOIN tot
            WHERE tf.term = '{TFIDF_TERM}'
            ORDER BY tfidf DESC, doc_id ASC LIMIT {TOPK}
        """,
        "topic_term_doc_counts": f"""
            WITH tok AS (
              SELECT doc_id, lang, unnest(regexp_extract_all(lower(text), '{TOKEN_REGEX}')) AS term
              FROM documents
            ),
            tf AS (SELECT doc_id, lang, term FROM tok GROUP BY 1, 2, 3)
            SELECT lang, term, count(*)::bigint AS n_docs FROM tf GROUP BY 1, 2
        """,
        "topic_top_terms": f"""
            WITH tok AS (
              SELECT doc_id, lang, unnest(regexp_extract_all(lower(text), '{TOKEN_REGEX}')) AS term
              FROM documents
            ),
            tf AS (SELECT doc_id, lang, term FROM tok GROUP BY 1, 2, 3),
            cnt AS (SELECT lang, term, count(*)::bigint AS n_docs FROM tf GROUP BY 1, 2)
            SELECT * FROM (
              SELECT lang, term, n_docs,
                     row_number() OVER (PARTITION BY lang ORDER BY n_docs DESC, term ASC)::int AS rank
              FROM cnt
            ) WHERE rank <= 5
        """,
        "badwords_report": f"""
            WITH {_TOK_CTE},
            dl AS (SELECT doc_id, sum(tf)::bigint AS doc_len FROM tf GROUP BY 1)
            SELECT tf.doc_id, count(*)::bigint AS abs,
                   count(*)::double / any_value(dl.doc_len)::double AS rel
            FROM tf JOIN dl USING (doc_id)
            WHERE tf.term IN ({_FLAG_SQL})
            GROUP BY tf.doc_id
        """,
        "stem_dict": f"""
            WITH {_TOK_CTE},
            terms AS (SELECT DISTINCT term FROM tf),
            stems AS (SELECT regexp_replace(term, '[0-9]+$', '') AS stem, term AS original FROM terms)
            SELECT stem, original FROM (
              SELECT stem, original,
                     row_number() OVER (PARTITION BY stem ORDER BY length(original), original) AS rn
              FROM stems
            ) WHERE rn = 1
        """,
        "destem_terms": f"""
            WITH {_TOK_CTE},
            st AS (SELECT term, sum(tf)::bigint AS cf FROM tf GROUP BY 1),
            stems AS (SELECT regexp_replace(term, '[0-9]+$', '') AS stem, term AS original FROM st),
            dict AS (
              SELECT stem, original FROM (
                SELECT stem, original,
                       row_number() OVER (PARTITION BY stem ORDER BY length(original), original) AS rn
                FROM stems
              ) WHERE rn = 1
            )
            SELECT coalesce(dict.original, st.term) AS destemmed, st.cf
            FROM st LEFT JOIN dict ON st.term = dict.stem
        """,
        "semi_filter": "SELECT doc_id, lang, source, n_chars FROM documents WHERE lang IN ('en', 'zh')",
        "range_filter": """
            SELECT event_id, ts, user_id, event_type FROM events
            WHERE ts > TIMESTAMP '2024-01-08 00:00:00' AND ts < TIMESTAMP '2024-01-22 00:00:00'
        """,
        "topn_recent": """
            SELECT user_id, event_id, ts, event_type FROM (
              SELECT user_id, event_id, ts, event_type,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id ASC) AS rn
              FROM events
            ) WHERE rn <= 3
        """,
        "bm25_or_topk": _BM25_OR_BODY,
        "bm25_and_topk": _BM25_CTE % {"terms": _AND_SQL} + f"""
            SELECT doc_id, score_q FROM (
              SELECT doc_id, sum(score_q)::bigint AS score_q, count(DISTINCT term) AS nt
              FROM sc GROUP BY doc_id
            ) WHERE nt = {len(set(BM25_AND_TERMS))}
            ORDER BY score_q DESC, doc_id ASC LIMIT {TOPK}
        """,
        "index_wand_topk": _BM25_OR_BODY,  # the engine must be rank-identical
        "index_taat_topk": _BM25_OR_BODY,
        # wildcard: the SAME capped (df desc, term asc) expansion the
        # engine's dictionary rewrite produces, re-derived in SQL, then
        # the standard BM25 OR body over it
        "index_wildcard_topk": _BM25_CTE % {
            "terms": f"""SELECT term FROM st
                WHERE regexp_matches(term, '{_WILD_RX}')
                ORDER BY df DESC, term ASC LIMIT {WILD_CAP}"""
        } + f"""
            SELECT doc_id, sum(score_q)::bigint AS score_q
            FROM sc GROUP BY doc_id
            ORDER BY score_q DESC, doc_id ASC LIMIT {TOPK}
        """,
        # minimum-should-match: one sc row per (doc, matched term), so
        # the HAVING count is the distinct-term match width
        "index_msm_topk": _BM25_OR_BODY.replace(
            "FROM sc GROUP BY doc_id",
            f"FROM sc GROUP BY doc_id HAVING count(*) >= {MSM_N}",
        ),
        # collapse: best doc per topic, groups ranked by representative
        "index_collapse_topk": _BM25_CTE % {"terms": _OR_SQL} + f"""
            , coll_agg AS (
              SELECT doc_id, sum(score_q)::bigint AS score_q FROM sc GROUP BY doc_id
            ),
            coll AS (
              SELECT d.lang AS topic, a.doc_id, a.score_q,
                     row_number() OVER (
                       PARTITION BY d.lang
                       ORDER BY a.score_q DESC, a.doc_id ASC
                     ) AS r
              FROM coll_agg a JOIN documents d USING (doc_id)
            )
            SELECT topic, doc_id, score_q FROM coll WHERE r = 1
            ORDER BY score_q DESC, doc_id ASC LIMIT {TOPK}
        """,
        # range-facet: Σ (value >= edge) − 1 bucket index, same as the
        # engine's JVM expression; the VALUES table maps idx -> bounds
        "index_facet_histogram": f"""
            WITH {_TOK_CTE},
            m AS (SELECT DISTINCT doc_id FROM tf WHERE term IN ({_OR_SQL})),
            dl AS (SELECT doc_id, sum(tf)::bigint AS doc_len FROM tf GROUP BY 1),
            j AS (SELECT dl.doc_len::double AS v FROM m JOIN dl USING (doc_id)),
            b AS (SELECT ({" + ".join(f"(v >= {e})::int" for e in HIST_EDGES)}) - 1 AS bidx FROM j),
            buckets AS (
              SELECT * FROM (VALUES {", ".join(
                  f"({i}, {a}::double, {b_}::double)"
                  for i, (a, b_) in enumerate(zip(HIST_EDGES, HIST_EDGES[1:]))
              )}) AS t(bidx, bucket_start, bucket_end)
            )
            SELECT bucket_start, bucket_end, count(*)::bigint AS n_docs
            FROM b JOIN buckets USING (bidx) GROUP BY 1, 2
            ORDER BY bucket_start ASC
        """,
        # top-hits-per-bucket: per-topic rank windows over the BM25
        # sums; buckets ranked by their best hit, each keeps 2 docs
        "index_bucket_hits": _BM25_CTE % {"terms": _OR_SQL} + """
            , agg AS (SELECT doc_id, sum(score_q)::bigint AS score_q FROM sc GROUP BY 1),
            j AS (
              SELECT d.lang AS topic, a.doc_id, a.score_q
              FROM agg a JOIN documents d USING (doc_id)
            ),
            hits AS (
              SELECT *, row_number() OVER (
                PARTITION BY topic ORDER BY score_q DESC, doc_id ASC
              )::int AS hit_rank
              FROM j
            ),
            buckets AS (
              SELECT topic, row_number() OVER (
                ORDER BY score_q DESC, doc_id ASC
              )::int AS bucket_rank
              FROM hits WHERE hit_rank = 1
            )
            SELECT h.topic, b.bucket_rank, h.doc_id, h.score_q, h.hit_rank
            FROM hits h JOIN buckets b USING (topic)
            WHERE h.hit_rank <= 2 AND b.bucket_rank <= 5
            ORDER BY b.bucket_rank, h.hit_rank
        """,
        # rank eval: P@k / R@k / MRR of the OR ranking vs AND-matching
        # docs as the relevance rule — single integer divisions only
        "index_rank_eval": _BM25_CTE % {"terms": _OR_SQL} + f"""
            , agg AS (
              SELECT doc_id,
                     row_number() OVER (ORDER BY sum(score_q) DESC, doc_id ASC) AS rank
              FROM sc GROUP BY doc_id
            ),
            topk AS (SELECT * FROM agg WHERE rank <= {TOPK}),
            rel AS (
              SELECT doc_id FROM tf WHERE term IN ({_OR_SQL})
              GROUP BY doc_id HAVING count(DISTINCT term) = {len(set(BM25_OR_TERMS))}
            ),
            relhits AS (SELECT t.rank FROM topk t JOIN rel USING (doc_id))
            -- the engine emits no row for an unlabeled query; mirror
            -- that when the relevance rule matches nothing
            SELECT 0 AS query_id,
                   (SELECT count(*) FROM rel)::bigint AS n_rel,
                   (SELECT count(*) FROM relhits)::bigint AS hits_at_k,
                   (SELECT count(*) FROM relhits)::double / {TOPK} AS precision_at_k,
                   (SELECT count(*) FROM relhits)::double
                     / (SELECT count(*) FROM rel) AS recall_at_k,
                   coalesce(1.0 / (SELECT min(rank) FROM relhits), 0.0) AS reciprocal_rank
            WHERE (SELECT count(*) FROM rel) > 0
        """,
        # significant terms: lift = (fg_df*N)/(bg_df*m), exact integer
        # products, ONE IEEE division — engine-independent by design
        "index_significant_terms": f"""
            WITH {_TOK_CTE},
            m AS (SELECT DISTINCT doc_id FROM tf WHERE term IN ({_OR_SQL})),
            fg AS (
              SELECT term, count(*)::bigint AS fg_df
              FROM tf JOIN m USING (doc_id) GROUP BY 1
            ),
            bg AS (SELECT term, count(*)::bigint AS bg_df FROM tf GROUP BY 1),
            tot AS (SELECT (SELECT count(*) FROM m)::bigint AS m_cnt,
                           (SELECT count(DISTINCT doc_id) FROM tf)::bigint AS n_docs)
            SELECT fg.term, fg.fg_df, bg.bg_df,
                   (fg.fg_df::double * tot.n_docs::double)
                   / (bg.bg_df::double * tot.m_cnt::double) AS lift
            FROM fg JOIN bg USING (term) CROSS JOIN tot
            WHERE fg.fg_df >= 2 AND fg.term NOT IN ({_OR_SQL})
            ORDER BY lift DESC, fg_df DESC, term ASC LIMIT {TOPK}
        """,
        # stats agg: count/min/max/sum/avg of doc_len over the OR
        # match set — integer doc_lens make sum/avg exact, so the
        # hash compare is strict
        "index_facet_stats": f"""
            WITH {_TOK_CTE},
            m AS (SELECT DISTINCT doc_id FROM tf WHERE term IN ({_OR_SQL})),
            dl AS (SELECT doc_id, sum(tf)::bigint AS doc_len FROM tf GROUP BY 1),
            j AS (SELECT dl.doc_len::double AS v FROM m JOIN dl USING (doc_id))
            SELECT count(*)::bigint AS n_docs, min(v) AS min_v, max(v) AS max_v,
                   sum(v) AS sum_v, sum(v) / count(*) AS avg_v,
                   median(v) AS median_v
            FROM j
            HAVING count(*) > 0
        """,
        # collapse batch: the single-panel collapse SQL with a VALUES
        # panel map fanning the shared sc CTE to both panels, and the
        # final k cut per panel instead of global (the AND panel's
        # terms are a subset of the OR panel's, so the union term list
        # IS _OR_SQL and the overlap exercises the fan-out)
        "index_collapse_batch": _BM25_CTE % {"terms": _OR_SQL} + f"""
            , panel AS (
              SELECT * FROM (VALUES {_PANEL_SQL}) AS p(query_id, term)
            ),
            cb_agg AS (
              SELECT p.query_id, sc.doc_id, sum(sc.score_q)::bigint AS score_q
              FROM sc JOIN panel p USING (term) GROUP BY 1, 2
            ),
            cb AS (
              SELECT a.query_id, d.lang AS topic, a.doc_id, a.score_q,
                     row_number() OVER (
                       PARTITION BY a.query_id, d.lang
                       ORDER BY a.score_q DESC, a.doc_id ASC
                     ) AS r
              FROM cb_agg a JOIN documents d USING (doc_id)
            ),
            cb_ranked AS (
              SELECT query_id, topic, doc_id, score_q,
                     row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY score_q DESC, doc_id ASC
                     ) AS gr
              FROM cb WHERE r = 1
            )
            SELECT query_id, topic, doc_id, score_q
            FROM cb_ranked WHERE gr <= {TOPK}
            ORDER BY query_id ASC, score_q DESC, doc_id ASC
        """,
        # histogram batch: per-panel distinct match sets via the same
        # VALUES panel map, then the single-panel bucket arithmetic
        "index_hist_batch": f"""
            WITH {_TOK_CTE},
            panel AS (
              SELECT * FROM (VALUES {_PANEL_SQL}) AS p(query_id, term)
            ),
            m AS (
              SELECT DISTINCT p.query_id, tf.doc_id
              FROM tf JOIN panel p USING (term)
            ),
            dl AS (SELECT doc_id, sum(tf)::bigint AS doc_len FROM tf GROUP BY 1),
            j AS (
              SELECT m.query_id, dl.doc_len::double AS v
              FROM m JOIN dl USING (doc_id)
            ),
            b AS (
              SELECT query_id,
                     ({" + ".join(f"(v >= {e})::int" for e in HIST_EDGES)}) - 1 AS bidx
              FROM j
            ),
            buckets AS (
              SELECT * FROM (VALUES {", ".join(
                  f"({i}, {a}::double, {b_}::double)"
                  for i, (a, b_) in enumerate(zip(HIST_EDGES, HIST_EDGES[1:]))
              )}) AS t(bidx, bucket_start, bucket_end)
            )
            SELECT query_id, bucket_start, bucket_end, count(*)::bigint AS n_docs
            FROM b JOIN buckets USING (bidx) GROUP BY 1, 2, 3
            ORDER BY query_id ASC, bucket_start ASC
        """,
        # explain: the flagship top-k's per-(doc, term) decomposition —
        # doc selection is the same oracled cut, components re-derived
        "index_explain": _BM25_CTE % {"terms": _OR_SQL} + f"""
            , expl_top AS (
              SELECT doc_id FROM (
                SELECT doc_id, sum(score_q)::bigint AS s FROM sc GROUP BY doc_id
                ORDER BY s DESC, doc_id ASC LIMIT {EXPLAIN_DOCS}
              )
            )
            SELECT sc.doc_id, sc.term, tf.tf, st.df, dl.doc_len, sc.score_q
            FROM sc
            JOIN expl_top USING (doc_id)
            JOIN tf ON tf.doc_id = sc.doc_id AND tf.term = sc.term
            JOIN st ON st.term = sc.term
            JOIN dl ON dl.doc_id = sc.doc_id
        """,
        # bounded-staleness ingest converges to exact full-corpus scores
        "index_incremental_topk": _BM25_OR_BODY,
        "index_phrase_topk": _BM25_PHRASE_BODY,
        "index_delete_topk": _BM25_DELETE_BODY,
        # a merged index must be indistinguishable from a monolithic build
        "index_merged_topk": _BM25_OR_BODY,
        "index_prefix_terms": f"""
            WITH {_TOK_CTE},
            st AS (SELECT term, count(*)::bigint AS df, sum(tf)::bigint AS cf FROM tf GROUP BY 1)
            SELECT term, df, cf FROM st
            WHERE term LIKE '{PREFIX_Q}%'
            ORDER BY df DESC, term ASC LIMIT 10
        """,
        "index_prefix_batch": f"""
            WITH {_TOK_CTE},
            st AS (SELECT term, count(*)::bigint AS df, sum(tf)::bigint AS cf FROM tf GROUP BY 1)
            SELECT * FROM (
              SELECT 0::int AS query_id, term, df, cf FROM st
              WHERE term LIKE '{PREFIX_Q}%' ORDER BY df DESC, term ASC LIMIT 10
            ) UNION ALL SELECT * FROM (
              SELECT 1::int AS query_id, term, df, cf FROM st
              WHERE term LIKE '{PREFIX_Q2}%' ORDER BY df DESC, term ASC LIMIT 10
            )
        """,
        "index_fuzzy_suggest": _SUGGEST_ORACLE,
        "index_suggest_batch": f"""
            WITH {_TOK_CTE},
            st AS (SELECT term, count(*)::bigint AS df FROM tf GROUP BY 1)
            SELECT * FROM (
              SELECT 0::int AS query_id, term,
                     levenshtein(term, '{SUGGEST_Q}')::int AS dist, df FROM st
              WHERE abs(length(term) - {len(SUGGEST_Q)}) <= {SUGGEST_DIST}
                AND levenshtein(term, '{SUGGEST_Q}') <= {SUGGEST_DIST}
              ORDER BY dist ASC, df DESC, term ASC LIMIT 10
            ) UNION ALL SELECT * FROM (
              SELECT 1::int AS query_id, term,
                     levenshtein(term, '{SUGGEST_Q2}')::int AS dist, df FROM st
              WHERE abs(length(term) - {len(SUGGEST_Q2)}) <= {SUGGEST_DIST}
                AND levenshtein(term, '{SUGGEST_Q2}') <= {SUGGEST_DIST}
              ORDER BY dist ASC, df DESC, term ASC LIMIT 10
            )
        """,
        # the indexed (SymSpell) path must equal the scan semantics
        "index_suggest_indexed": _SUGGEST_ORACLE,
        "index_facet_counts": f"""
            WITH {_TOK_CTE},
            m AS (SELECT DISTINCT doc_id FROM tf WHERE term IN ({_OR_SQL}))
            SELECT d.lang AS topic, count(*)::bigint AS n_docs
            FROM m JOIN documents d USING (doc_id)
            GROUP BY 1 ORDER BY n_docs DESC, topic ASC
        """,
        "index_not_topk": _BM25_CTE % {"terms": _OR_SQL} + f"""
            SELECT doc_id, sum(score_q)::bigint AS score_q
            FROM sc
            WHERE doc_id NOT IN (
              SELECT DISTINCT doc_id FROM tok WHERE term IN ({_NOT_SQL})
            )
            GROUP BY doc_id
            ORDER BY score_q DESC, doc_id ASC LIMIT {TOPK}
        """,
        "index_paged_topk": _BM25_CTE % {"terms": _OR_SQL} + f"""
            , agg AS (
              SELECT doc_id, sum(score_q)::bigint AS score_q,
                     row_number() OVER (ORDER BY sum(score_q) DESC, doc_id ASC) AS rank
              FROM sc GROUP BY doc_id
            )
            SELECT doc_id, score_q, rank::int AS rank FROM agg
            WHERE rank > {PAGE_OFFSET} AND rank <= {PAGE_OFFSET + TOPK}
            ORDER BY rank
        """,
        # cursor pagination: the engine pages by (score_q, doc_id)
        # cursor with page-relative ranks; the oracle re-derives the
        # same second page from the absolute ranking
        "index_cursor_topk": _BM25_CTE % {"terms": _OR_SQL} + f"""
            , agg AS (
              SELECT doc_id, sum(score_q)::bigint AS score_q,
                     row_number() OVER (ORDER BY sum(score_q) DESC, doc_id ASC) AS rank
              FROM sc GROUP BY doc_id
            )
            SELECT doc_id, score_q, (rank - {TOPK})::int AS rank FROM agg
            WHERE rank > {TOPK} AND rank <= {2 * TOPK}
            ORDER BY rank
        """,
        "index_boosted_topk": _BM25_CTE % {"terms": _OR_SQL} + f"""
            , bmap(term, boost) AS (VALUES {_BOOST_SQL})
            SELECT sc.doc_id, sum(sc.score_q * bmap.boost)::bigint AS score_q
            FROM sc JOIN bmap USING (term)
            GROUP BY sc.doc_id
            ORDER BY score_q DESC, doc_id ASC LIMIT {TOPK}
        """,
        "index_synonym_topk": f"""
            WITH {_TOK_CTE},
            dl AS (SELECT doc_id, sum(tf)::bigint AS doc_len FROM tf GROUP BY 1),
            tot AS (SELECT count(*)::bigint AS n, sum(doc_len)::bigint AS s FROM dl),
            gmap(term, gid) AS (VALUES {_SYN_VALUES}),
            gtf AS (
              SELECT doc_id, gid, sum(tf)::bigint AS tf
              FROM tf JOIN gmap USING (term) GROUP BY 1, 2
            ),
            gst AS (SELECT gid, count(*)::bigint AS df FROM gtf GROUP BY 1),
            sc AS (
              SELECT gtf.doc_id,
                     floor(
                       ln(1 + (tot.n - gst.df + 0.5) / (gst.df + 0.5))
                       * (gtf.tf::double * {K1 + 1.0})
                       / (gtf.tf::double + {K1} * (1 - {B} + {B} * (dl.doc_len::double / (tot.s::double / tot.n))))
                       * {QUANT} + 0.5
                     )::bigint AS score_q
              FROM gtf JOIN gst USING (gid) JOIN dl USING (doc_id) CROSS JOIN tot
            )
            SELECT doc_id, sum(score_q)::bigint AS score_q
            FROM sc GROUP BY doc_id
            ORDER BY score_q DESC, doc_id ASC LIMIT {TOPK}
        """,
        "index_hybrid_rerank": _BM25_CTE % {"terms": _OR_SQL} + f""",
            bm AS (SELECT doc_id, sum(score_q)::bigint AS bm25_q FROM sc GROUP BY 1),
            cand AS (
              SELECT doc_id, bm25_q,
                     row_number() OVER (ORDER BY bm25_q DESC, doc_id ASC) AS rank_bm25
              FROM bm QUALIFY rank_bm25 <= {HYBRID_M}
            ),
            q AS (
              SELECT unnest(embedding)::double AS qx, generate_subscripts(embedding, 1) AS pos
              FROM embeddings WHERE vec_id = 0
            ),
            v AS (
              SELECT vec_id AS doc_id, unnest(embedding)::double AS x,
                     generate_subscripts(embedding, 1) AS pos
              FROM embeddings WHERE vec_id IN (SELECT doc_id FROM cand)
            ),
            stats AS (
              SELECT v.doc_id,
                     sum(floor(v.x * q.qx * 1000000000 + 0.5)::bigint)::bigint AS dot_q,
                     sum(floor(v.x * v.x * 1000000000 + 0.5)::bigint)::bigint AS norm2_q
              FROM v JOIN q USING (pos) GROUP BY 1
            ),
            qn AS (SELECT sum(floor(qx * qx * 1000000000 + 0.5)::bigint)::bigint AS qn2 FROM q),
            cosed AS (
              SELECT cand.doc_id, cand.bm25_q, cand.rank_bm25,
                     floor(stats.dot_q::double
                           / (sqrt(NULLIF(stats.norm2_q, 0)::double) * sqrt(qn.qn2::double))
                           * 1000000 + 0.5) / 1000000 AS cos
              FROM cand LEFT JOIN stats USING (doc_id) CROSS JOIN qn
            ),
            ranked AS (
              SELECT *, row_number() OVER (ORDER BY cos DESC NULLS LAST, doc_id ASC) AS rank_cos
              FROM cosed
            )
            SELECT doc_id, bm25_q, cos,
                   floor((1.0 / ({RRF_K} + rank_bm25)
                          + CASE WHEN cos IS NULL THEN 0.0
                                 ELSE 1.0 / ({RRF_K} + rank_cos) END)
                         * 1000000000 + 0.5)::bigint AS rrf_q
            FROM ranked ORDER BY rrf_q DESC, doc_id ASC LIMIT {TOPK}
        """,
        # the batch formulation: same scoring CTEs, but the per-query
        # term sets and query vectors ride (query_id, ...) panels and
        # every rank window partitions by query_id
        "index_hybrid_batch": _BM25_CTE % {
            "terms": ", ".join(f"'{t}'" for t in dict.fromkeys(BM25_OR_TERMS + BM25_AND_TERMS))
        } + f""",
            qpanel(query_id, term) AS (VALUES
              {", ".join(f"(0, '{t}')" for t in BM25_OR_TERMS)},
              {", ".join(f"(1, '{t}')" for t in BM25_AND_TERMS)}),
            qvid(query_id, vid) AS (VALUES (0, 0), (1, 1)),
            bm AS (
              SELECT qpanel.query_id, sc.doc_id, sum(sc.score_q)::bigint AS bm25_q
              FROM sc JOIN qpanel USING (term) GROUP BY 1, 2
            ),
            cand AS (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY bm25_q DESC, doc_id ASC) AS rank_bm25
              FROM bm QUALIFY rank_bm25 <= {HYBRID_M}
            ),
            q AS (
              SELECT qvid.query_id, unnest(e.embedding)::double AS qx,
                     generate_subscripts(e.embedding, 1) AS pos
              FROM embeddings e JOIN qvid ON e.vec_id = qvid.vid
            ),
            v AS (
              SELECT vec_id AS doc_id, unnest(embedding)::double AS x,
                     generate_subscripts(embedding, 1) AS pos
              FROM embeddings WHERE vec_id IN (SELECT doc_id FROM cand)
            ),
            stats AS (
              SELECT q.query_id, v.doc_id,
                     sum(floor(v.x * q.qx * 1000000000 + 0.5)::bigint)::bigint AS dot_q,
                     sum(floor(v.x * v.x * 1000000000 + 0.5)::bigint)::bigint AS norm2_q
              FROM v JOIN q USING (pos) GROUP BY 1, 2
            ),
            qn AS (
              SELECT query_id,
                     sum(floor(qx * qx * 1000000000 + 0.5)::bigint)::bigint AS qn2
              FROM q GROUP BY 1
            ),
            cosed AS (
              SELECT cand.query_id, cand.doc_id, cand.bm25_q, cand.rank_bm25,
                     floor(stats.dot_q::double
                           / (sqrt(NULLIF(stats.norm2_q, 0)::double) * sqrt(qn.qn2::double))
                           * 1000000 + 0.5) / 1000000 AS cos
              FROM cand
              LEFT JOIN stats ON stats.query_id = cand.query_id
                             AND stats.doc_id = cand.doc_id
              JOIN qn ON qn.query_id = cand.query_id
            ),
            ranked AS (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC NULLS LAST, doc_id ASC) AS rank_cos
              FROM cosed
            )
            SELECT query_id::int AS query_id, doc_id, bm25_q, cos,
                   floor((1.0 / ({RRF_K} + rank_bm25)
                          + CASE WHEN cos IS NULL THEN 0.0
                                 ELSE 1.0 / ({RRF_K} + rank_cos) END)
                         * 1000000000 + 0.5)::bigint AS rrf_q
            FROM ranked
            QUALIFY row_number() OVER (
              PARTITION BY query_id ORDER BY rrf_q DESC, doc_id ASC) <= {TOPK}
            ORDER BY query_id, rrf_q DESC, doc_id ASC
        """,
        "index_filtered_topk": _BM25_CTE % {"terms": _OR_SQL} + f"""
            SELECT sc.doc_id, sum(sc.score_q)::bigint AS score_q
            FROM sc JOIN documents d ON d.doc_id = sc.doc_id
            WHERE d.lang = 'en'
            GROUP BY sc.doc_id
            ORDER BY score_q DESC, sc.doc_id ASC LIMIT {TOPK}
        """,
        "index_mlt": "WITH " + _TOK_CTE + f""",
            src AS (SELECT min(doc_id) AS d FROM documents),
            dl AS (SELECT doc_id, sum(tf)::bigint AS doc_len FROM tf GROUP BY 1),
            st AS (SELECT term, count(*)::bigint AS df FROM tf GROUP BY 1),
            tot AS (SELECT count(*)::bigint AS n, sum(doc_len)::bigint AS s FROM dl),
            qterms AS (
              SELECT tf.term
              FROM tf JOIN src ON tf.doc_id = src.d
              JOIN st USING (term)
              JOIN dl ON dl.doc_id = src.d
              CROSS JOIN tot
              ORDER BY floor((tf.tf::double / dl.doc_len::double)
                             * log10(tot.n::double / st.df::double) * 10000 + 0.5) / 10000 DESC,
                       tf.term ASC
              LIMIT {MLT_M}
            ),
            sc AS (
              SELECT tf.doc_id, tf.term,
                     floor(
                       ln(1 + (tot.n - st.df + 0.5) / (st.df + 0.5))
                       * (tf.tf::double * {K1 + 1.0})
                       / (tf.tf::double + {K1} * (1 - {B} + {B} * (dl.doc_len::double / (tot.s::double / tot.n))))
                       * {QUANT} + 0.5
                     )::bigint AS score_q
              FROM tf JOIN st USING (term) JOIN dl USING (doc_id) CROSS JOIN tot
              WHERE tf.term IN (SELECT term FROM qterms)
            )
            SELECT sc.doc_id, sum(sc.score_q)::bigint AS score_q
            FROM sc, src WHERE sc.doc_id != src.d
            GROUP BY sc.doc_id
            ORDER BY score_q DESC, sc.doc_id ASC LIMIT {TOPK}
        """,
        "index_snippets": _BM25_CTE % {"terms": _OR_SQL} + f""",
            hits AS (
              SELECT doc_id, sum(score_q)::bigint AS score_q
              FROM sc GROUP BY doc_id
              ORDER BY score_q DESC, doc_id ASC LIMIT {TOPK}
            ),
            ranked AS (
              SELECT doc_id, score_q,
                     row_number() OVER (ORDER BY score_q DESC, doc_id ASC)::int AS rank
              FROM hits
            ),
            tarr AS (
              SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_REGEX}') AS toks
              FROM documents
            ),
            loc AS (
              SELECT r.doc_id, r.score_q, r.rank, t.toks,
                     greatest(1, coalesce(least({", ".join(f"nullif(list_position(t.toks, '{w}'), 0)" for w in sorted(set(BM25_OR_TERMS)))}), 1) - {SNIPPET_BEFORE}) AS st
              FROM ranked r JOIN tarr t USING (doc_id)
            )
            SELECT doc_id, score_q, rank,
                   array_to_string(list_slice(toks, st, st + {SNIPPET_WINDOW - 1}), ' ') AS snippet
            FROM loc
        """,
        "index_filtered_wand_topk": _BM25_CTE % {"terms": _OR_SQL} + f"""
            SELECT sc.doc_id, sum(sc.score_q)::bigint AS score_q
            FROM sc JOIN documents d ON d.doc_id = sc.doc_id
            WHERE d.lang = 'zh'
            GROUP BY sc.doc_id
            ORDER BY score_q DESC, sc.doc_id ASC LIMIT {TOPK}
        """,
        "dataset_split": f"""
            WITH u AS (SELECT doc_id, {_UNIT_SQL} AS u FROM documents)
            SELECT doc_id, {_split_case_sql()} AS split FROM u
        """,
        "stratified_sample": f"""
            WITH u AS (SELECT doc_id, lang, {_UNIT_SQL} AS u FROM documents)
            SELECT doc_id, lang FROM u
            WHERE u < CASE lang {_STRAT_CASE} ELSE 0.0 END
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, count(*)::bigint AS n_dups
            FROM documents GROUP BY 1
        """,
        # intra-corpus duplicated spans: grams shared by >= 2 docs
        "dup_spans": f"""
            WITH toks AS (
              SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_REGEX}') AS l
              FROM documents
            ),
            g AS (
              SELECT doc_id, unnest(list_transform(
                range(1, len(l) - {DECON_TEST_N - 2}),
                i -> md5(array_to_string(list_slice(l, i, i + {DECON_TEST_N - 1}), ' '))
              )) AS gram
              FROM toks WHERE len(l) >= {DECON_TEST_N}
            ),
            dg AS (SELECT DISTINCT doc_id, gram FROM g),
            dup AS (SELECT gram FROM dg GROUP BY gram HAVING count(*) >= 2),
            hits AS (
              SELECT doc_id, count(*)::bigint AS n_dup_grams
              FROM dg JOIN dup USING (gram) GROUP BY 1
            ),
            tot AS (SELECT doc_id, count(*)::bigint AS n_grams FROM dg GROUP BY 1)
            SELECT h.doc_id, h.n_dup_grams, t.n_grams,
                   h.n_dup_grams::double / t.n_grams AS dup_frac
            FROM hits h JOIN tot t USING (doc_id)
            ORDER BY doc_id
        """,
        # function score: BM25 sum x doc_len, ranked over the whole
        # match set (exact integer arithmetic end to end)
        "index_function_score": _BM25_CTE % {"terms": _OR_SQL} + f"""
            , agg AS (SELECT doc_id, sum(score_q)::bigint AS score_q FROM sc GROUP BY 1),
            fs AS (
              SELECT a.doc_id, a.score_q, (a.score_q * dl.doc_len)::bigint AS score_fs
              FROM agg a JOIN dl USING (doc_id)
            ),
            r AS (
              SELECT *, row_number() OVER (ORDER BY score_fs DESC, doc_id ASC)::int AS rank
              FROM fs
            )
            SELECT doc_id, score_q, score_fs, rank FROM r
            WHERE rank <= {TOPK} ORDER BY rank
        """,
        # decontamination: distinct md5'd n-grams per doc; eval split =
        # doc_id % MOD == 0; contaminated train docs share >= 1 gram.
        # range() end is exclusive: i runs 1..len-n+1
        "decontaminate": f"""
            WITH toks AS (
              SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_REGEX}') AS l
              FROM documents
            ),
            g AS (
              SELECT doc_id, unnest(list_transform(
                range(1, len(l) - {DECON_TEST_N - 2}),
                i -> md5(array_to_string(list_slice(l, i, i + {DECON_TEST_N - 1}), ' '))
              )) AS gram
              FROM toks WHERE len(l) >= {DECON_TEST_N}
            ),
            dg AS (SELECT DISTINCT doc_id, gram FROM g),
            ev AS (SELECT DISTINCT gram FROM dg WHERE doc_id % {DECON_EVAL_MOD} = 0),
            tg AS (SELECT * FROM dg WHERE doc_id % {DECON_EVAL_MOD} <> 0),
            hits AS (
              SELECT doc_id, count(*)::bigint AS n_hit_grams
              FROM tg JOIN ev USING (gram) GROUP BY 1
            ),
            tot AS (SELECT doc_id, count(*)::bigint AS n_grams FROM tg GROUP BY 1)
            SELECT h.doc_id, h.n_hit_grams, t.n_grams,
                   h.n_hit_grams::double / t.n_grams AS hit_frac
            FROM hits h JOIN tot t USING (doc_id)
            ORDER BY doc_id
        """,
        "minhash_candidates": f"""
            WITH {_minhash_cte_sql()}
            SELECT a, b FROM pairs
        """,
        # near-dup clustering: recursive transitive closure over the
        # thresholded pair graph; component = min reachable doc_id
        "dedup_clusters": f"""
            WITH RECURSIVE {_minhash_cte_sql()},
            sizes AS (SELECT doc_id, count(*)::bigint AS sz FROM terms GROUP BY 1),
            inter AS (
              SELECT p.a, p.b, count(*)::bigint AS inter
              FROM pairs p
              JOIN terms ta ON ta.doc_id = p.a
              JOIN terms tb ON tb.doc_id = p.b AND tb.term = ta.term
              GROUP BY p.a, p.b
            ),
            jp AS (
              SELECT i.a, i.b
              FROM inter i JOIN sizes sa ON sa.doc_id = i.a
                           JOIN sizes sb ON sb.doc_id = i.b
              WHERE i.inter::double / (sa.sz + sb.sz - i.inter)::double >= 0.5
            ),
            edges AS (SELECT a AS src, b AS dst FROM jp
                      UNION SELECT b, a FROM jp),
            reach(src, dst) AS (
              SELECT src, dst FROM edges
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
            )
            SELECT src AS doc_id, least(src, min(dst)) AS component_id
            FROM reach GROUP BY src
            ORDER BY doc_id
        """,
        "jaccard_pairs": f"""
            WITH {_minhash_cte_sql()},
            sizes AS (SELECT doc_id, count(*)::bigint AS sz FROM terms GROUP BY 1),
            inter AS (
              SELECT p.a, p.b, count(*)::bigint AS inter
              FROM pairs p
              JOIN terms ta ON ta.doc_id = p.a
              JOIN terms tb ON tb.doc_id = p.b AND tb.term = ta.term
              GROUP BY p.a, p.b
            )
            SELECT i.a, i.b, i.inter, sa.sz AS size_a, sb.sz AS size_b,
                   floor(i.inter::double / (sa.sz + sb.sz - i.inter)::double * 1000000 + 0.5) / 1000000 AS jaccard
            FROM inter i JOIN sizes sa ON sa.doc_id = i.a JOIN sizes sb ON sb.doc_id = i.b
            WHERE i.inter::double / (sa.sz + sb.sz - i.inter)::double >= 0.5
        """,
        "simhash": f"""
            WITH {_TOK_CTE},
            h AS (
              SELECT doc_id, tf, ('0x' || substr(md5(term), 1, 15))::bigint AS h
              FROM tf
            ),
            bits AS (
              SELECT doc_id, r.r,
                     sum(tf * (((h >> r.r) & 1) * 2 - 1))::bigint AS s
              FROM h CROSS JOIN (SELECT unnest(range(16)) AS r) r
              GROUP BY doc_id, r.r
            )
            SELECT doc_id,
                   sum(CASE WHEN s > 0 THEN (1::bigint << r) ELSE 0 END)::bigint AS simhash
            FROM bits GROUP BY doc_id
        """,
        "ann_cosine_topk": """
            WITH q AS (
              SELECT unnest(embedding)::double AS qx, generate_subscripts(embedding, 1) AS pos
              FROM embeddings WHERE vec_id = 0
            ),
            v AS (
              SELECT vec_id, unnest(embedding)::double AS x, generate_subscripts(embedding, 1) AS pos
              FROM embeddings
            ),
            stats AS (
              SELECT v.vec_id,
                     sum(floor(v.x * q.qx * 1000000000 + 0.5)::bigint)::bigint AS dot_q,
                     sum(floor(v.x * v.x * 1000000000 + 0.5)::bigint)::bigint AS norm2_q
              FROM v JOIN q USING (pos) GROUP BY v.vec_id
            ),
            qn AS (SELECT norm2_q AS qnorm2_q FROM stats WHERE vec_id = 0)
            SELECT vec_id,
                   floor(dot_q::double / (sqrt(norm2_q::double) * sqrt(qnorm2_q::double)) * 1e6 + 0.5) / 1e6 AS cos
            FROM stats CROSS JOIN qn
            WHERE vec_id != 0 AND norm2_q > 0 AND qnorm2_q > 0
            ORDER BY cos DESC, vec_id ASC LIMIT 10
        """,
        "ann_lsh_topk": f"""
            WITH pl(pos, j, coef) AS (VALUES {_plane_values_sql()}),
            v AS (
              SELECT vec_id, unnest(embedding)::double AS x, generate_subscripts(embedding, 1) AS pos
              FROM embeddings
            ),
            bits AS (
              SELECT v.vec_id, pl.j,
                     CASE WHEN sum(floor(v.x * pl.coef * 1000000000 + 0.5)::bigint) > 0 THEN 1 ELSE 0 END AS bit
              FROM v JOIN pl USING (pos) GROUP BY 1, 2
            ),
            sigs AS (SELECT vec_id, sum(bit * (1 << j))::bigint AS sig FROM bits GROUP BY 1),
            qsig AS (SELECT sig FROM sigs WHERE vec_id = 0),
            bucket AS (SELECT s.vec_id FROM sigs s, qsig WHERE s.sig = qsig.sig),
            bv AS (SELECT v.* FROM v JOIN bucket USING (vec_id)),
            q AS (SELECT x AS qx, pos FROM v WHERE vec_id = 0),
            stats AS (
              SELECT bv.vec_id,
                     sum(floor(bv.x * q.qx * 1000000000 + 0.5)::bigint)::bigint AS dot_q,
                     sum(floor(bv.x * bv.x * 1000000000 + 0.5)::bigint)::bigint AS norm2_q
              FROM bv JOIN q USING (pos) GROUP BY bv.vec_id
            ),
            qn AS (SELECT norm2_q AS qnorm2_q FROM stats WHERE vec_id = 0)
            SELECT vec_id,
                   floor(dot_q::double / (sqrt(norm2_q::double) * sqrt(qnorm2_q::double)) * 1e6 + 0.5) / 1e6 AS cos
            FROM stats CROSS JOIN qn
            WHERE vec_id != 0 AND norm2_q > 0 AND qnorm2_q > 0
            ORDER BY cos DESC, vec_id ASC LIMIT 10
        """,
        "ann_ivf_topk": f"""
            WITH cent(cell, pos, coef) AS (VALUES {_centroid_values_sql()}),
            cn AS (
              SELECT cell, sum(floor(coef::double * coef::double * 1000000000 + 0.5)::bigint)::bigint AS n2
              FROM cent GROUP BY 1
            ),
            v AS (
              SELECT vec_id, unnest(embedding)::double AS x, generate_subscripts(embedding, 1) AS pos
              FROM embeddings
            ),
            dots AS (
              SELECT v.vec_id, c.cell,
                     sum(floor(v.x * c.coef * 1000000000 + 0.5)::bigint)::bigint AS dot_q
              FROM v JOIN cent c USING (pos) GROUP BY 1, 2
            ),
            obj AS (SELECT d.vec_id, d.cell, 2 * d.dot_q - cn.n2 AS o FROM dots d JOIN cn USING (cell)),
            assign AS (
              SELECT vec_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id ORDER BY o DESC, cell ASC) AS rn
                FROM obj
              ) WHERE rn = 1
            ),
            qcells AS (
              SELECT cell FROM (
                SELECT cell, row_number() OVER (ORDER BY o DESC, cell ASC) AS rn
                FROM obj WHERE vec_id = 0
              ) WHERE rn <= {IVF_NPROBE}
            ),
            bucket AS (SELECT a.vec_id FROM assign a JOIN qcells USING (cell)),
            bv AS (SELECT v.* FROM v JOIN bucket USING (vec_id)),
            q AS (SELECT x AS qx, pos FROM v WHERE vec_id = 0),
            stats AS (
              SELECT bv.vec_id,
                     sum(floor(bv.x * q.qx * 1000000000 + 0.5)::bigint)::bigint AS dot_q,
                     sum(floor(bv.x * bv.x * 1000000000 + 0.5)::bigint)::bigint AS norm2_q
              FROM bv JOIN q USING (pos) GROUP BY bv.vec_id
            ),
            qn AS (SELECT norm2_q AS qnorm2_q FROM stats WHERE vec_id = 0)
            SELECT vec_id,
                   floor(dot_q::double / (sqrt(norm2_q::double) * sqrt(qnorm2_q::double)) * 1e6 + 0.5) / 1e6 AS cos
            FROM stats CROSS JOIN qn
            WHERE vec_id != 0 AND norm2_q > 0 AND qnorm2_q > 0
            ORDER BY cos DESC, vec_id ASC LIMIT 10
        """,
        "embedding_near_dup": f"""
            WITH v AS (
              SELECT vec_id, unnest(embedding)::double AS x, generate_subscripts(embedding, 1) AS pos
              FROM embeddings
            ),
            n2 AS (SELECT vec_id, sum(floor(x * x * 1000000000 + 0.5)::bigint)::bigint AS norm2_q FROM v GROUP BY 1),
            d AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     sum(floor(a.x * b.x * 1000000000 + 0.5)::bigint)::bigint AS dot_q
              FROM v a JOIN v b ON a.pos = b.pos AND a.vec_id < b.vec_id
              GROUP BY 1, 2
            )
            SELECT * FROM (
              SELECT id_a, id_b,
                     floor(dot_q::double / (sqrt(na.norm2_q::double) * sqrt(nb.norm2_q::double)) * 1e6 + 0.5) / 1e6 AS cos
              FROM d JOIN n2 na ON na.vec_id = d.id_a JOIN n2 nb ON nb.vec_id = d.id_b
            ) WHERE cos >= {NEAR_DUP_COS}
        """,
        "embedding_near_dup_lsh": f"""
            WITH pl(pos, j, coef) AS (VALUES {_plane_values_sql(NEAR_DUP_PLANES * NEAR_DUP_BANDS)}),
            v AS (
              SELECT vec_id, unnest(embedding)::double AS x, generate_subscripts(embedding, 1) AS pos
              FROM embeddings
            ),
            bits AS (
              SELECT v.vec_id, pl.j,
                     CASE WHEN sum(floor(v.x * pl.coef * 1000000000 + 0.5)::bigint) > 0 THEN 1 ELSE 0 END AS bit
              FROM v JOIN pl USING (pos) GROUP BY 1, 2
            ),
            -- banded: plane j belongs to band j // P at bit j % P
            sigs AS (
              SELECT vec_id, (j // {NEAR_DUP_PLANES})::int AS band,
                     sum(bit * (1::bigint << (j % {NEAR_DUP_PLANES})))::bigint AS sig
              FROM bits GROUP BY 1, 2
            ),
            pairs AS (
              SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
            ),
            n2 AS (SELECT vec_id, sum(floor(x * x * 1000000000 + 0.5)::bigint)::bigint AS norm2_q FROM v GROUP BY 1),
            d AS (
              SELECT p.id_a, p.id_b,
                     sum(floor(va.x * vb.x * 1000000000 + 0.5)::bigint)::bigint AS dot_q
              FROM pairs p
              JOIN v va ON va.vec_id = p.id_a
              JOIN v vb ON vb.vec_id = p.id_b AND vb.pos = va.pos
              GROUP BY 1, 2
            )
            SELECT * FROM (
              SELECT d.id_a, d.id_b,
                     floor(dot_q::double / (sqrt(na.norm2_q::double) * sqrt(nb.norm2_q::double)) * 1e6 + 0.5) / 1e6 AS cos
              FROM d JOIN n2 na ON na.vec_id = d.id_a JOIN n2 nb ON nb.vec_id = d.id_b
            ) WHERE cos >= {NEAR_DUP_COS}
        """,
        "content_sha256": "SELECT doc_id, sha256(text) AS sha FROM documents",
        "multimodal_features": f"""
            WITH f AS (
              SELECT doc_id,
                     octet_length(encode(text))::bigint AS n_bytes,
                     sha256(text) AS payload_sha256
              FROM documents
            )
            SELECT doc_id, n_bytes, payload_sha256, p.pos::int AS pos,
                   (('0x' || substr(payload_sha256, p.pos * 2 + 1, 2))::bigint)::double / 255.0 AS value
            FROM f CROSS JOIN (SELECT unnest(range({multimodal.FEATURE_DIM})) AS pos) p
        """,
        "frame_samples": f"""
            WITH f AS (
              SELECT doc_id, hex(encode(text)) AS raw_hex,
                     octet_length(encode(text))::bigint AS n
              FROM documents
            ),
            idx AS (
              -- ceil division: the trailing partial frame is sampled too
              SELECT doc_id, raw_hex,
                     unnest(range(0, greatest((n + {FRAME_BYTES - 1}) // {FRAME_BYTES}, 1), {FRAME_EVERY})) AS fi
              FROM f
            )
            SELECT doc_id, fi::int AS frame_idx,
                   substr(raw_hex, (fi * {FRAME_BYTES * 2} + 1)::int, {FRAME_BYTES * 2}) AS frame_hex
            FROM idx
        """,
        "resize_payload": f"""
            SELECT doc_id,
                   rpad(substr(hex(encode(text)), 1, {RESIZE_BYTES * 2}), {RESIZE_BYTES * 2}, '0') AS payload_hex,
                   {RESIZE_BYTES}::bigint AS n_bytes
            FROM documents
        """,
        "term_cooccurrence": f"""
            WITH {_TOK_CTE},
            n_tot AS (SELECT count(DISTINCT doc_id)::bigint AS n_docs FROM tf),
            a_docs AS (SELECT doc_id FROM tf WHERE term = '{COOC_TERM}'),
            n_a AS (SELECT count(*)::bigint AS n_a FROM a_docs),
            pair AS (
              SELECT tf.term, count(*)::bigint AS n_ab
              FROM tf JOIN a_docs USING (doc_id)
              WHERE tf.term != '{COOC_TERM}'
              GROUP BY 1 HAVING count(*) >= 2
            ),
            df_b AS (SELECT term, count(*)::bigint AS n_b FROM tf GROUP BY 1)
            SELECT pair.term, n_ab, n_a.n_a, df_b.n_b,
                   floor(ln((n_ab::double * n_docs::double) / (n_a.n_a::double * n_b::double)) * 1000000 + 0.5) / 1000000 AS pmi_q
            FROM pair JOIN df_b USING (term) CROSS JOIN n_a CROSS JOIN n_tot
        """,
        "token_counts": f"""
            SELECT doc_id,
                   CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+')) END::bigint AS n_ws_tokens,
                   len(regexp_extract_all(lower(text), '{TOKEN_REGEX}'))::bigint AS n_tokens,
                   len(list_distinct(regexp_extract_all(lower(text), '{TOKEN_REGEX}')))::bigint AS n_distinct_terms
            FROM documents
        """,
        "quality_scores": f"""
            WITH base AS (
              SELECT doc_id,
                     length(text)::bigint AS n_chars,
                     regexp_extract_all(lower(text), '{TOKEN_REGEX}') AS toks,
                     length(regexp_replace(lower(text), '[^a-z0-9_]', '', 'g'))::bigint AS alpha_chars
              FROM documents
            ),
            feat AS (
              SELECT doc_id, n_chars, len(toks)::bigint AS n_tokens,
                     alpha_chars::double / greatest(n_chars, 1)::double AS alpha_ratio,
                     len(list_filter(toks, t -> t IN ({_STOP_SQL})))::double
                       / greatest(len(toks), 1)::double AS stopword_ratio,
                     coalesce(list_sum(list_transform(toks, t -> length(t))), 0)::double
                       / greatest(len(toks), 1)::double AS mean_token_len
              FROM base
            )
            SELECT doc_id, n_chars, n_tokens, alpha_ratio, stopword_ratio, mean_token_len,
                   round(least(1.0, alpha_ratio * 0.5 + least(n_tokens::double / 100.0, 1.0) * 0.5), 6) AS quality
            FROM feat
        """,
        "lang_id": f"""
            WITH base AS (
              SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_REGEX}') AS toks
              FROM documents
            ),
            r AS (
              SELECT doc_id,
                     len(list_filter(toks, t -> t IN ({_MARK_SQL})))::double
                       / greatest(len(toks), 1)::double AS ratio
              FROM base
            )
            SELECT doc_id, round(ratio, 6) AS marker_ratio,
                   CASE WHEN ratio >= 0.05 THEN 'en' ELSE 'unknown' END AS lang_guess
            FROM r
        """,
        "fingerprints": """
            SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
            FROM documents
        """,
        "events_windowed": """
            SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
                   count(*)::bigint AS n,
                   sum(floor(value * 1000000 + 0.5)::bigint)::double / 1e6 AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "events_dedup": "SELECT DISTINCT user_id, event_type, ts FROM events",
        "trending_terms": f"""
            WITH docs AS (
              SELECT make_timestamp((1700000000 + (doc_id % 8) * 1800) * 1000000) AS ts, text
              FROM documents
            ),
            tok AS (
              SELECT ts, unnest(regexp_extract_all(lower(text), '{TOKEN_REGEX}')) AS term
              FROM docs
            ),
            cnt AS (
              SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, term,
                     count(*)::bigint AS n
              FROM tok GROUP BY 1, 2
            ),
            rk AS (
              SELECT *, row_number() OVER (
                PARTITION BY window_start ORDER BY n DESC, term ASC
              )::int AS rank FROM cnt
            )
            SELECT window_start, term, n, rank FROM rk WHERE rank <= 5
        """,
        "sessionize": """
            WITH marked AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            sid AS (
              SELECT user_id, ts,
                     sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING)::bigint AS session_id
              FROM marked
            )
            SELECT user_id, session_id, count(*)::bigint AS n_events,
                   min(ts) AS session_start, max(ts) AS session_end
            FROM sid GROUP BY 1, 2
        """,
        "lineitem_pricing": """
            SELECT l_returnflag, l_linestatus,
                   sum(floor(l_quantity * 100 + 0.5)::bigint)::bigint AS sum_qty_q,
                   sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)::bigint)::bigint AS sum_rev_q,
                   count(*)::bigint AS n_rows
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY 1, 2
        """,
        "broadcast_join_agg": """
            SELECT p_brand,
                   sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)::bigint)::bigint AS rev_q,
                   count(*)::bigint AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY 1
        """,
        "rollup_orders": """
            SELECT o_orderstatus, o_orderpriority, count(*)::bigint AS n,
                   sum(floor(o_totalprice * 100 + 0.5)::bigint)::bigint AS total_q
            FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
    }


def oracle_sql() -> dict[str, str]:
    return {k: v for k, v in _all_oracle_sql().items() if k not in FOLDED_QUERIES}


def folded_oracle_sql() -> dict[str, str]:
    return {k: v for k, v in _all_oracle_sql().items() if k in FOLDED_QUERIES}


# ---------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build the posting-list index over sf0.001 documents and
    answer the hot+rare disjunctive BM25 top-k."""
    return q_index_wand_topk(spark, "/root/testdata/sf0.001")
