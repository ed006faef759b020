"""Physical-plan assertions: the optimizer behaviors the scale design
depends on must actually appear in the executed plans (SURVEY.md §4) —
a correctness suite for the 100 TB story rather than for row values.

Checks: parquet filter pushdown, column pruning, broadcast joins where
dimensions are small, partial (map-side) aggregation before the
exchange, TakeOrderedAndProject for global top-k, and the absence of
per-row Python in JVM-path queries.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from wikitfidf_spark.corpus import make_code_files
from wikitfidf_spark.operators import termstats, topk
from wikitfidf_spark.index.build import IndexConfig, build_index
from wikitfidf_spark.index.query import InvertedIndex

SF = "/root/testdata/sf0.001"


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def explain_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(os.path.join(SF, "documents.parquet"))


def test_scan_prunes_columns(spark, docs):
    tf = termstats.term_frequencies(docs, text="text")
    e = explain_str(tf)
    # only the two needed columns reach the parquet scan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in e


def test_filter_pushdown_reaches_scan(spark, docs):
    q = docs.filter(F.col("lang") == "en").select("doc_id")
    e = explain_str(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in e


def test_partial_aggregation_before_exchange(spark, docs):
    tf = termstats.term_frequencies(docs, text="text")
    e = explain_str(tf)
    # partial_count on the map side shrinks the shuffle to distinct
    # (doc, term) rows — the S9/S10 scale requirement.  (Spark places
    # the partial HashAggregate below the Exchange whenever it appears.)
    assert "partial_count" in e and "Exchange" in e


def test_global_topk_is_take_ordered(spark, docs):
    tf = termstats.term_frequencies(docs, text="text")
    stats = termstats.global_term_stats(tf)
    top = topk.top_n_global_terms(stats, 10)
    assert "TakeOrderedAndProject" in plan(top)


def test_small_dim_join_broadcasts(spark, docs):
    tf = termstats.term_frequencies(docs, text="text")
    stats = termstats.global_term_stats(tf)
    j = tf.join(F.broadcast(stats.select("term", "df")), "term")
    assert "BroadcastHashJoin" in plan(j)


def test_jvm_tokenize_has_no_python_eval(spark, docs):
    tf = termstats.term_frequencies(docs, text="text")
    p = plan(tf)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_lsh_near_dup_plan_has_no_cartesian(spark):
    """The checked near-dup path must be the bucketed one: candidates
    come from an equi-join on the LSH signature (shuffle on sig), never
    a cartesian / broadcast-nested-loop expansion.  The exact all-pairs
    anchor (cosine_pairs_exact) is intentionally NOT under this test —
    it is the small-scale oracle anchor only."""
    from wikitfidf_spark.operators import similarity

    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    pairs = similarity.cosine_pairs_lsh(emb, threshold=0.35, n_planes=4)
    p = plan(pairs)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_postings_term_lookup_prunes_row_groups(spark, tmp_path_factory):
    """Term lookups must push the term predicate into the postings
    scan(s) — files are written term-sorted per shard, so row-group
    min/max statistics serve the lookup.  A fresh (fused) index serves
    postings from ONE combined scan with one pushed filter; after an
    exact-mode add splits scores into their own versioned file, BOTH
    scans must carry the pushdown."""
    from wikitfidf_spark.index.build import add_documents

    d = str(tmp_path_factory.mktemp("idx_plan"))
    docs = make_code_files(spark, n_docs=330, seed=42)
    split = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(11)) == 0
    build_index(
        spark, docs.filter(~split), d, IndexConfig(n_shards=2, n_salts=2), resume=False
    )
    idx = InvertedIndex(spark, d)
    assert idx.combined is not None  # fused single-file state
    e = explain_str(idx.postings.filter(F.col("term") == "arg_cfg_get"))
    assert "PushedFilters" in e
    assert e.count("EqualTo(term,arg_cfg_get)") == 1  # ONE combined scan

    add_documents(spark, docs.filter(split), d)  # splits scores back out
    idx2 = InvertedIndex(spark, d)
    assert idx2.combined is None
    e2 = explain_str(idx2.postings.filter(F.col("term") == "arg_cfg_get"))
    assert "PushedFilters" in e2
    assert e2.count("EqualTo(term,arg_cfg_get)") >= 2  # structure AND scores scans


def _pushed_term_in(e: str) -> list[tuple[str, int]]:
    """(file name, number of values) of every parquet scan in a
    formatted plan whose pushed filters hold an ``In(term, [...])``."""
    out, loc = [], None
    for line in e.splitlines():
        if line.startswith("Location:"):
            loc = os.path.basename(line.rstrip("]").split()[-1])
        elif line.startswith("PushedFilters:") and "In(term, [" in line:
            vals = line.split("In(term, [", 1)[1].split("]", 1)[0]
            out.append((loc, len(vals.split(","))))
    return out


def test_batch_term_filter_pushes_into_every_scan(spark, tmp_path_factory):
    """A batch's term list enters the plan as ONE parsed IN expression
    (quoted literals, byte literals for values with quotes or
    backslashes); constant folding must leave the same pushed
    ``In(term, [...])`` filter on every posting scan: the combined scan
    in the fused state, the structure AND scores scans after an
    exact-mode add, and the positions scan of a phrase batch."""
    from wikitfidf_spark.index.build import add_documents
    from wikitfidf_spark.index.positions import build_positions
    from wikitfidf_spark.index.query import PhraseQuery, Query

    d = str(tmp_path_factory.mktemp("idx_inplan"))
    docs = make_code_files(spark, n_docs=330, seed=42)
    split = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(11)) == 0
    build_index(
        spark, docs.filter(~split), d, IndexConfig(n_shards=2, n_salts=2), resume=False
    )
    build_positions(spark, docs.filter(~split), d)
    idx = InvertedIndex(spark, d)
    terms = [r["term"] for r in idx.dictionary.orderBy("term").limit(150).collect()]
    terms.append("no'such\\term")
    queries = [Query(i, terms[i:i + 3]) for i in range(0, len(terms), 3)]
    n = len(terms)
    phrases = [PhraseQuery(i, [terms[i], terms[(i + 1) % n]]) for i in range(0, n, 2)]

    assert idx.combined is not None  # fused: ONE combined scan
    assert _pushed_term_in(explain_str(idx.topk_batch(queries))) == [
        ("structure_g0.parquet", n)
    ]
    scans = _pushed_term_in(explain_str(idx.phrase_topk_batch(phrases)))
    assert ("structure_g0.parquet", n) in scans
    assert any(f.startswith("positions") and c == n for f, c in scans), scans

    add_documents(spark, docs.filter(split), d)  # splits scores back out
    idx2 = InvertedIndex(spark, d)
    assert idx2.combined is None
    scans = _pushed_term_in(explain_str(idx2.topk_batch(queries)))
    assert {c for _, c in scans} == {n}
    assert any(f.startswith("structure") for f, _ in scans), scans
    assert any(f.startswith("scores") for f, _ in scans), scans


def _read_fields(e: str) -> dict[str, set[str]]:
    """file name -> column names of that parquet scan's ReadSchema, for
    every scan in a formatted plan."""
    out, loc = {}, None
    for line in e.splitlines():
        if line.startswith("Location:"):
            loc = os.path.basename(line.rstrip("]").split()[-1])
        elif line.startswith("ReadSchema:"):
            out[loc] = set(re.findall(r"(\w+):", line.split("struct<", 1)[1]))
    return out


def test_serving_scan_reads_only_decoded_columns(spark, tmp_path_factory):
    """The top-k kernel decodes doc ids and impact scores only, so the
    posting scans feeding it read exactly those columns plus the group
    keys: no tf/doclen streams and no block-max sidecars cross the
    exchange.  ``decoded()`` and ``decoded_docs()`` likewise read only
    the term and the streams they decode (plus the shard/list keys the
    two-file state's owner filter and structure ⋈ scores join need).
    Checked on the fused combined scan and on the structure + scores
    scans after an exact-mode add."""
    from wikitfidf_spark.index.build import add_documents
    from wikitfidf_spark.index.query import Query

    keys = {"shard", "term", "sub_shard"}
    struct = {"n_docs", "docs_payload", "block_firsts", "block_counts"}
    d = str(tmp_path_factory.mktemp("idx_readschema"))
    docs = make_code_files(spark, n_docs=330, seed=42)
    split = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(11)) == 0
    build_index(
        spark, docs.filter(~split), d, IndexConfig(n_shards=2, n_salts=2), resume=False
    )
    queries = [Query(0, ["arg_cfg_get", "arg_ctx"]), Query(1, ["arg_cfg"], "AND")]
    idx = InvertedIndex(spark, d)
    assert idx.combined is not None
    assert _read_fields(explain_str(idx.topk_batch(queries))) == {
        "structure_g0.parquet": keys | struct | {"scores_payload"}
    }
    terms = ["arg_cfg_get", "arg_ctx"]
    assert _read_fields(explain_str(idx.decoded(terms))) == {
        "structure_g0.parquet": {"term"} | struct | {"tfs_payload", "scores_payload"}
    }
    assert _read_fields(explain_str(idx.decoded_docs(terms))) == {
        "structure_g0.parquet": {"term"} | struct
    }

    add_documents(spark, docs.filter(split), d)  # splits scores back out
    idx2 = InvertedIndex(spark, d)
    assert idx2.combined is None
    scans = _read_fields(explain_str(idx2.topk_batch(queries)))
    assert {f.split("_")[0] for f in scans} == {"structure", "scores"}, scans
    for f, cols in scans.items():
        assert cols == (keys | struct if f.startswith("structure")
                        else keys | {"scores_payload"}), (f, cols)
    scans = _read_fields(explain_str(idx2.decoded(terms)))
    assert {f.split("_")[0] for f in scans} == {"structure", "scores"}, scans
    for f, cols in scans.items():
        assert cols == (keys | struct | {"tfs_payload"} if f.startswith("structure")
                        else keys | {"scores_payload"}), (f, cols)
    scans = _read_fields(explain_str(idx2.decoded_docs(terms)))
    assert {f.split("_")[0] for f in scans} == {"structure"}, scans
    for f, cols in scans.items():
        assert cols == {"shard", "term"} | struct, (f, cols)


def test_score_refresh_plan_is_shuffle_free(spark, tmp_path_factory):
    """The incremental-update cornerstone: score_postings_df must be a
    pure map over the structure scan — a broadcast dictionary join and
    mapInPandas, with NO hash-partitioning exchange and NO sort-merge
    join anywhere (that is what makes index-wide score refresh cheap)."""
    from wikitfidf_spark.index.build import score_postings_df, load_manifest

    d = str(tmp_path_factory.mktemp("idx_scoreplan"))
    docs = make_code_files(spark, n_docs=300, seed=42)
    cfg = IndexConfig(n_shards=2, n_salts=2)
    build_index(spark, docs, d, cfg, resume=False)
    m = load_manifest(d)
    structure = spark.read.parquet(os.path.join(d, "structure_g0.parquet"))
    stats = spark.read.parquet(os.path.join(d, "dictionary.parquet"))
    scores = score_postings_df(
        structure, stats, cfg, m["metrics"]["total_docs"], m["metrics"]["avgdl"]
    )
    p = plan(scores)
    assert "Exchange hashpartitioning" not in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_fresh_encode_plan_keeps_docmeta_out(spark):
    """The dominant build phase (structure+scores encode) must not
    touch docmeta: placement derives from doc_id as an expression
    (pmod(xxhash64) visible in the plan) and the only doc-side input is
    the slim (doc_id, doc_len) dim — no natural keys, no sha256, no
    topic anywhere in the plan.  Checked with broadcasts disabled, the
    10^11-doc shape: the doc-side degrade is a sort-merge join over the
    narrowest possible table, not docmeta."""
    from wikitfidf_spark.index.build import encode_structure_df, _tokenize
    from wikitfidf_spark.operators import termstats as ts

    docs = make_code_files(spark, n_docs=200, seed=42).withColumn(
        "doc_id", F.xxhash64("repo", "path", "commit")
    )
    cfg = IndexConfig(n_shards=2, n_salts=2)
    # materialize the phase inputs like the build does — the encode
    # plan under test reads parquet, not the corpus lineage
    base = "/tmp/wtf_plan_encode"
    _tokenize(docs, cfg).write.mode("overwrite").parquet(base + "/tf.parquet")
    tf = spark.read.parquet(base + "/tf.parquet")
    ts.global_term_stats(tf, n_salts=2).write.mode("overwrite").parquet(base + "/dict.parquet")
    stats = spark.read.parquet(base + "/dict.parquet")
    ts.doc_lengths(tf).write.mode("overwrite").parquet(base + "/doclens.parquet")
    doclens = spark.read.parquet(base + "/doclens.parquet")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        enc = encode_structure_df(
            tf, None, stats, cfg, doclens=doclens, score_globals=(200, 50.0)
        )
        e = explain_str(enc)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "xxhash64" in e                      # placement is an expression
    for docmeta_col in ("content_sha256", "topic", "repo#", "path#", "commit#"):
        assert docmeta_col not in e, docmeta_col


def test_batch_serving_plans(spark, tmp_path_factory):
    """r5 batch APIs keep the scale shapes: facet_counts_batch
    broadcasts the tiny term->panel map and never goes nested-loop;
    more_like_this_batch's term extraction pushes the source-doc isin
    filter into the tf scan and broadcasts the dictionary."""
    from wikitfidf_spark.index.query import PhraseQuery

    d = str(tmp_path_factory.mktemp("idx_batchplan"))
    docs_df = make_code_files(spark, n_docs=300, seed=42)
    build_index(spark, docs_df, d, IndexConfig(n_shards=2, n_salts=2), resume=False)
    idx = InvertedIndex(spark, d)
    hot = [r["term"] for r in
           idx.dictionary.orderBy(F.desc("df"), F.asc("term")).limit(4).collect()]

    fb = idx.facet_counts_batch([(i, [t]) for i, t in enumerate(hot)], facet="topic")
    e = explain_str(fb)
    assert "BroadcastNestedLoopJoin" not in e and "CartesianProduct" not in e
    assert e.count("BroadcastHashJoin") >= 1  # the term->panel map
    assert fb.count() > 0

    # the per-shard kernels sit on exactly one exchange per input side:
    # the shard placement, with no second hashpartitioning(shard)
    from wikitfidf_spark.index.query import Query

    qs = [Query(0, hot[:2]), Query(1, hot[2:])]
    for df, kernel, sides in (
        (idx.topk_batch(qs), "FlatMapGroupsInPandas", 1),
        (idx.topk_batch(qs, predicate="doc_len > 10"), "FlatMapCoGroupsInPandas", 2),
    ):
        below = plan(df).split(kernel, 1)[1]
        exchanges = [ln for ln in below.splitlines() if "Exchange " in ln]
        assert len(exchanges) == sides, exchanges
        assert all("REPARTITION_BY_NUM" in ln for ln in exchanges), exchanges

    ids = [r["doc_id"] for r in
           idx.docmeta.select("doc_id").orderBy("doc_id").limit(3).collect()]
    mb = idx.more_like_this_batch(ids, m=4, k=5)
    e2 = explain_str(mb)
    assert "BroadcastNestedLoopJoin" not in e2 and "CartesianProduct" not in e2
    assert mb.count() > 0


def _window_partitions(p: str) -> list[str]:
    """The partition columns of every Window operator in an executed
    plan string (exprIds stripped)."""
    return [
        re.sub(r"#\d+", "", cols)
        for cols in re.findall(r"Window \[.*?\], \[([^\]]*)\], \[", p)
    ]


def test_wildcard_and_collapse_plans(spark, tmp_path_factory):
    """Round-5 final serving additions keep the scale shapes:
    - expand_wildcard (one panel of the batch expansion) pushes the
      literal prefix into the dictionary scan as StartsWith (row-group
      pruning on the term-sorted dictionary), and its only window is
      the per-panel cap partitioned by query_id;
    - wildcard_topk_batch's expansion join is a broadcast of the tiny
      panel, never nested-loop over the vocabulary rows;
    - facet_histogram's bucket index is a pure expression (no Python
      eval) and collapse_topk introduces no cartesian."""
    d = str(tmp_path_factory.mktemp("idx_wildplan"))
    docs_df = make_code_files(spark, n_docs=300, seed=42)
    build_index(spark, docs_df, d, IndexConfig(n_shards=2, n_salts=2), resume=False)
    idx = InvertedIndex(spark, d)

    exp = idx.expand_wildcard("arg_c*")
    e = explain_str(exp)
    assert "StringStartsWith(term,arg_c)" in e      # pushed into the scan
    assert _window_partitions(plan(exp)) == ["query_id"]

    pdf_plan = explain_str(
        idx.dictionary.select("term", "df")
        .join(
            F.broadcast(
                spark.createDataFrame(
                    [(0, "^arg.*$", "arg")], "query_id int, rx string, prefix string"
                )
            ),
            F.col("term").startswith(F.col("prefix"))
            & F.regexp_like(F.col("term"), F.col("rx")),
        )
    )
    assert "CartesianProduct" not in pdf_plan
    # a theta-join against a broadcast panel degrades to
    # BroadcastNestedLoopJoin by design — over |panel| broadcast rows,
    # not vocab x vocab; the vocabulary side must NOT be the broadcast
    assert "BroadcastExchange" in pdf_plan

    hist = idx.facet_histogram(["arg_cfg", "arg_ctx"], "doc_len", (0, 30, 60, 200))
    ph = plan(hist)
    assert "BatchEvalPython" not in ph              # bucket idx is an expression
    assert "CartesianProduct" not in ph

    coll = idx.collapse_topk(["arg_cfg", "arg_ctx"], field="topic", k=5)
    pc = plan(coll)
    assert "CartesianProduct" not in pc and "BroadcastNestedLoopJoin" not in pc
    # representative pick is a two-phase hash agg (map-side partial min
    # over (-score, doc) structs), NOT a per-field-value window — a
    # skewed field value can't serialize onto one partition
    ec = explain_str(coll)
    assert "partial_min" in ec
    assert _window_partitions(pc) == ["query_id"]
    assert coll.count() > 0

    # batch shapes keep the scale properties: the panel fan-out is a
    # broadcast equi-join (never nested-loop over postings), the
    # collapse representative stays an associative partial_min, and the
    # only window is the per-panel rank cut (partitioned by query_id —
    # bounded by the batch result, not by a docmeta field's skew)
    cb = idx.collapse_topk_batch(
        [(0, ["arg_cfg", "arg_ctx"]), (1, ["arg_cfg"])], field="topic", k=5
    )
    pcb = plan(cb)
    assert "CartesianProduct" not in pcb and "BroadcastNestedLoopJoin" not in pcb
    ecb = explain_str(cb)
    assert "partial_min" in ecb
    assert "partitionspec(query_id" in pcb.lower().replace(" ", "") or \
        "query_id" in pcb.split("Window")[1][:200]
    hb = idx.facet_histogram_batch(
        [(0, ["arg_cfg"]), (1, ["arg_ctx"])], "doc_len", (0.0, 100.0, 1e9)
    )
    phb = plan(hb)
    assert "BatchEvalPython" not in phb
    assert "CartesianProduct" not in phb and "BroadcastNestedLoopJoin" not in phb


def test_place_shards_gives_each_shard_its_own_partition(spark):
    """Hash-partitioning on a small-int shard id collides (two shards in
    one partition at 2 shards); place_shards puts shard s in partition
    s mod P, and shards sharing a partition when shards > P keep
    distinct group keys."""
    from wikitfidf_spark.index.build import PLACE_KEY, place_shards

    for n in (2, 4, 32):
        ids = spark.range(n).select(F.col("id").cast("int").alias("shard"))
        for p in (None, 4):
            got = {
                r["shard"]: (r["p"], r[PLACE_KEY])
                for r in place_shards(ids, range(n), p)
                .select("shard", PLACE_KEY, F.spark_partition_id().alias("p"))
                .collect()
            }
            parts = n if p is None else min(p, n)
            assert {s: q for s, (q, _) in got.items()} == {s: s % parts for s in range(n)}
            assert len({k for _, k in got.values()}) == n
