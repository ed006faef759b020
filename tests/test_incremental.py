"""Incremental index updates (build.add_documents): exact-score
incrementality — base + delta must be indistinguishable from a
from-scratch build over the union (deterministic encoder ⇒ byte
identity), and collisions must be rejected."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from wikitfidf_spark.corpus import make_code_files
from wikitfidf_spark.index.build import (
    IndexConfig, add_documents, build_index, index_paths, load_manifest, postings_view,
)
from wikitfidf_spark.index.query import InvertedIndex, Query

CFG = IndexConfig(n_shards=4, n_salts=2, block_size=32)

IDENTITY_COLS = [
    "shard", "term", "sub_shard", "n_docs", "cf",
    "docs_payload", "tfs_payload", "dls_payload", "scores_payload",
    "block_max_score",
]


def _postings_rows(spark, d):
    """Canonical byte-level content of an index: every payload stream of
    the combined structure ⋈ scores view."""
    df = postings_view(spark, d).select(*IDENTITY_COLS)
    return sorted(
        (
            (r["shard"], r["term"], r["sub_shard"], r["n_docs"], r["cf"],
             bytes(r["docs_payload"]), bytes(r["tfs_payload"]),
             bytes(r["dls_payload"]), bytes(r["scores_payload"]),
             tuple(r["block_max_score"]))
            for r in df.collect()
        )
    )


@pytest.fixture(scope="module")
def dirs(spark, tmp_path_factory):
    docs = make_code_files(spark, n_docs=800, seed=42).cache()
    split = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(4)) == 0
    base_docs, delta_docs = docs.filter(~split), docs.filter(split)
    full_dir = str(tmp_path_factory.mktemp("idx_full"))
    inc_dir = str(tmp_path_factory.mktemp("idx_inc"))
    build_index(spark, docs, full_dir, CFG, resume=False)
    build_index(spark, base_docs, inc_dir, CFG, resume=False)
    add_documents(spark, delta_docs, inc_dir)
    return full_dir, inc_dir, delta_docs


def test_postings_byte_identical_after_compact(spark, dirs, tmp_path, check_index_files):
    """add_documents writes the delta as a new shard generation, so the
    physical layout differs from a fresh build until compaction; after
    ``compact`` the index must be byte-identical to the fresh build
    over the union (compaction runs on a copy so the other tests keep
    the pre-compact state)."""
    import shutil

    from wikitfidf_spark.index.build import compact

    full_dir, inc_dir, _ = dirs
    cdir = str(tmp_path / "inc_compacted")
    shutil.copytree(inc_dir, cdir)
    compact(spark, cdir)
    assert _postings_rows(spark, full_dir) == _postings_rows(spark, cdir)
    check_index_files(cdir)


def test_build_and_add_write_zstd_one_shard_per_file(dirs, check_index_files):
    """Build and add write every artifact as zstd parquet, and each
    structure file holds one shard (the add's generation shards too)."""
    full_dir, inc_dir, _ = dirs
    assert check_index_files(full_dir) > 0
    assert check_index_files(inc_dir) > 0


def test_writer_ignores_session_codec(spark, tmp_path):
    """The index writer sets zstd itself: a session whose default
    parquet codec is snappy still writes zstd."""
    import pyarrow.parquet as pq

    from wikitfidf_spark.index.build import write_parquet

    key = "spark.sql.parquet.compression.codec"
    old = spark.conf.get(key)
    spark.conf.set(key, "snappy")
    try:
        write_parquet(spark.range(10).repartition(1), str(tmp_path / "w.parquet"))
    finally:
        spark.conf.set(key, old)
    (f,) = (tmp_path / "w.parquet").glob("*.parquet")
    assert pq.ParquetFile(str(f)).metadata.row_group(0).column(0).compression == "ZSTD"


def test_metrics_and_paths_updated(spark, dirs):
    full_dir, inc_dir, _ = dirs
    mf, mi = load_manifest(full_dir), load_manifest(inc_dir)
    assert mi["metrics"]["total_docs"] == mf["metrics"]["total_docs"] == 800
    assert mi["metrics"]["n_postings"] == mf["metrics"]["n_postings"]
    assert mi["metrics"]["avgdl"] == mf["metrics"]["avgdl"]
    assert mi["paths"]["scores"] == "scores_v1.parquet"
    assert mi["paths"]["tf"] == ["tf.parquet", "tf_g1.parquet"]


def test_query_results_identical(spark, dirs):
    full_dir, inc_dir, _ = dirs
    qs = [Query(0, ["data_repo_map", "core_write_run"], "OR", 10),
          Query(1, ["arg_cfg_get"], "OR", 10)]
    get = lambda d: sorted(
        (r["query_id"], r["doc_id"], r["score_q"], r["rank"])
        for r in InvertedIndex(spark, d).topk_batch(qs).collect()
    )
    assert get(full_dir) == get(inc_dir)


def test_add_touches_no_existing_shard(spark, dirs):
    """The O(delta) claim, proven from the manifest: an add encodes the
    delta into a fresh generation of shard ids; every pre-existing
    shard keeps pointing at the base structure file (whose bytes are
    untouched on disk), and the delta file holds only generation
    shards."""
    _, inc_dir, _ = dirs
    m = load_manifest(inc_dir)
    owners = index_paths(m)["structure"]
    # canonical shards 0..3 untouched; the generation's shard count is
    # density-sized to the delta (200 new docs at the live index's
    # ~150 docs/shard -> 2 generation shards, not n_shards=4)
    assert all(owners[str(s)] == "structure_g0.parquet" for s in range(4))
    assert all(owners[str(s)] == "structure_g1.parquet" for s in (4, 5))
    ph = m["phases"]["delta_g1"]
    assert ph["existing_shards_reencoded"] == 0
    assert ph["new_shards"] == 2
    delta_shards = {
        r["shard"]
        for r in spark.read.parquet(os.path.join(inc_dir, "structure_g1.parquet"))
        .select("shard").distinct().collect()
    }
    assert delta_shards <= {4, 5}
    assert m["next_shard_base"] == 6


def test_collision_rejected(spark, dirs):
    _, inc_dir, delta_docs = dirs
    with pytest.raises(ValueError, match="collisions"):
        add_documents(spark, delta_docs, inc_dir)


def test_build_rejects_duplicate_doc_ids(spark, tmp_path):
    docs = make_code_files(spark, n_docs=50, seed=42)
    dup = docs.unionByName(docs.limit(1))  # one repeated natural key
    with pytest.raises(ValueError, match="duplicate doc_ids"):
        build_index(spark, dup, str(tmp_path / "idx_dup"), CFG, resume=False)


def test_delete_documents_equals_fresh_build(spark, tmp_path):
    from wikitfidf_spark.index.build import delete_documents

    docs = make_code_files(spark, n_docs=400, seed=42).cache()
    kill = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(5)) == 0
    keep_docs, dead_docs = docs.filter(~kill), docs.filter(kill)
    dead_ids = [r[0] for r in dead_docs.select(F.xxhash64("repo", "path", "commit")).collect()]

    full_dir = str(tmp_path / "idx_keep_only")
    del_dir = str(tmp_path / "idx_deleted")
    build_index(spark, keep_docs, full_dir, CFG, resume=False)
    build_index(spark, docs, del_dir, CFG, resume=False)
    res = delete_documents(spark, dead_ids, del_dir)
    assert res.metrics["total_docs"] == 400 - len(dead_ids)

    assert _postings_rows(spark, full_dir) == _postings_rows(spark, del_dir)

    # query identity over the union of both readers
    qs = [Query(0, ["arg_cfg_get", "core_write_run"], "OR", 10)]
    get = lambda d: sorted(
        (r["doc_id"], r["score_q"]) for r in InvertedIndex(spark, d).topk_batch(qs).collect()
    )
    assert get(full_dir) == get(del_dir)

    # deleted ids are gone from docmeta; deleting again raises
    idx = InvertedIndex(spark, del_dir)
    assert idx.docmeta.filter(F.col("doc_id").isin(dead_ids[:5])).count() == 0
    with pytest.raises(ValueError, match="not live"):
        delete_documents(spark, dead_ids[:1], del_dir)
    # re-adding a tombstoned doc is rejected
    with pytest.raises(ValueError, match="collisions"):
        add_documents(spark, dead_docs.limit(1), del_dir)


def test_maybe_compact_policy(spark, tmp_path):
    """maybe_compact is a no-op below the structure-file threshold and
    folds generations above it (ingest-loop policy hook)."""
    from wikitfidf_spark.index.build import maybe_compact

    docs = make_code_files(spark, n_docs=120, seed=42).cache()
    thirds = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(3))
    d = str(tmp_path / "idx_policy")
    build_index(spark, docs.filter(thirds == 0), d, CFG, resume=False)
    add_documents(spark, docs.filter(thirds == 1), d)
    assert maybe_compact(spark, d, max_structure_files=4) is None  # 2 files
    add_documents(spark, docs.filter(thirds == 2), d)
    res = maybe_compact(spark, d, max_structure_files=2)  # 3 files > 2
    assert res is not None
    m = load_manifest(d)
    assert len(set(index_paths(m)["structure"].values())) == 1
    assert len(index_paths(m)["tf"]) == 1


def test_stale_add_defers_refresh_then_converges(spark, tmp_path):
    """Bounded-staleness ingest mode (add_documents(refresh_scores=
    False)): (a) the deferred add runs NO index-wide score map — the
    epoch score file's bytes are untouched on disk, the scores pointer
    becomes an owner map, the manifest records stale_deltas and the
    phase's encode/score wall split; (b) serving keeps working in the
    stale window with exact doc sets; (c) refresh_scores closes the
    window and the index becomes bit-identical to an exact-mode add."""
    import glob

    from wikitfidf_spark.index.build import refresh_scores

    docs = make_code_files(spark, n_docs=400, seed=42).cache()
    split = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(4)) == 0
    base_docs, delta_docs = docs.filter(~split), docs.filter(split)

    exact_dir = str(tmp_path / "idx_exact")
    stale_dir = str(tmp_path / "idx_stale")
    build_index(spark, base_docs, exact_dir, CFG, resume=False)
    build_index(spark, base_docs, stale_dir, CFG, resume=False)
    add_documents(spark, delta_docs, exact_dir)  # exact mode (default)

    def _epoch_scores_state(d):
        # the epoch score artifact: a single-file pointer after a fresh
        # build (the fused combined file) or full refresh
        rel = index_paths(load_manifest(d))["scores"]
        rels = {rel} if isinstance(rel, str) else set(rel.values())
        files = sorted(
            (os.path.basename(p), os.path.getmtime(p), os.path.getsize(p))
            for r in rels
            for p in glob.glob(os.path.join(d, r, "*"))
        )
        assert files, "epoch score artifact missing on disk"
        return files

    before = _epoch_scores_state(stale_dir)
    add_documents(spark, delta_docs, stale_dir, refresh_scores=False)
    # epoch scores untouched: the pre-add files are a subset (the delta
    # adds its own generation file, never rewrites the epoch's)
    after = set(_epoch_scores_state(stale_dir))
    assert set(before) <= after

    m = load_manifest(stale_dir)
    assert m["stale_deltas"] == 1
    assert isinstance(index_paths(m)["scores"], dict)
    ph = m["phases"]["delta_g1_stale"]
    assert ph["score_refresh"] == "deferred"
    assert ph["existing_shards_reencoded"] == 0
    # the delta's epoch-stale scores are fused into its encode pass
    assert ph["delta_encode_wall_sec"] > 0 and ph["fused_scores"] is True
    assert m["metrics"]["live_total_docs"] == 400
    assert m["metrics"]["total_docs"] < 400  # epoch-consistent metrics

    # stale-window serving: doc SETS are exact (structure is), scores
    # are epoch-stale — compare the full matching set, not the order
    q = [Query(0, ["arg_cfg_get", "core_write_run"], "OR", 10000)]
    stale_hits = {
        r["doc_id"] for r in InvertedIndex(spark, stale_dir).topk_batch(q).collect()
    }
    exact_hits = {
        r["doc_id"] for r in InvertedIndex(spark, exact_dir).topk_batch(q).collect()
    }
    assert stale_hits == exact_hits

    refresh_scores(spark, stale_dir)
    m2 = load_manifest(stale_dir)
    assert m2["stale_deltas"] == 0
    assert isinstance(index_paths(m2)["scores"], str)
    assert m2["metrics"]["total_docs"] == 400
    # bit-identical to the exact-mode add: same structure bytes, same
    # score bytes, same block maxima
    assert _postings_rows(spark, exact_dir) == _postings_rows(spark, stale_dir)


def test_stale_window_tfidf_covers_delta_only_terms(spark, tmp_path):
    """tfidf_scores must not DROP postings of terms that exist only in
    an un-refreshed delta (the epoch dictionary lacks them): the left
    join + structure-sidecar df fallback keeps them scored."""
    from wikitfidf_spark.index.query import InvertedIndex

    docs = make_code_files(spark, n_docs=120, seed=42)
    split = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(4)) == 0
    d = str(tmp_path / "idx_tfidf_stale")
    build_index(spark, docs.filter(~split), d, CFG, resume=False)
    delta = docs.filter(split).withColumn(
        "content", F.concat(F.col("content"), F.lit(" zzz_delta_only_term"))
    )
    add_documents(spark, delta, d, refresh_scores=False)
    got = InvertedIndex(spark, d).tfidf_scores(["zzz_delta_only_term"]).collect()
    n_delta = delta.count()
    assert len(got) == n_delta  # every delta doc scored, none dropped
    assert all(r["tfidf"] is not None for r in got)

    # an exact op after the deferred add re-scores the whole index: the
    # two stale counters reset together
    from wikitfidf_spark.index.build import delete_documents

    assert load_manifest(d)["metrics"]["stale_delta_scores_bytes"] > 0
    delete_documents(spark, [got[0]["doc_id"]], d)
    m = load_manifest(d)
    assert (m["stale_deltas"], m["metrics"]["stale_delta_scores_bytes"]) == (0, 0)


def test_stale_window_did_you_mean_keeps_delta_only_terms(spark, tmp_path):
    """did_you_mean must not 'correct' a term that exists only in an
    un-refreshed delta: membership unions the structure's term set
    during the stale window, so the user's valid new term survives."""
    from wikitfidf_spark.index.query import InvertedIndex

    docs = make_code_files(spark, n_docs=120, seed=42)
    split = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(4)) == 0
    d = str(tmp_path / "idx_dym_stale")
    build_index(spark, docs.filter(~split), d, CFG, resume=False)
    delta = docs.filter(split).withColumn(
        "content", F.concat(F.col("content"), F.lit(" zzz_delta_only_term"))
    )
    add_documents(spark, delta, d, refresh_scores=False)
    idx = InvertedIndex(spark, d)
    corrected, fixes = idx.did_you_mean("zzz_delta_only_term")
    assert corrected is None and fixes == []  # the term is live — no correction


def test_stale_window_significant_terms_uses_live_background(spark, tmp_path):
    """significant_terms during a deferred-refresh window counts fg_df
    over the live tf generations (delta docs included), so bg_df and N
    must be live too: fg_df never exceeds bg_df, and every lift equals
    (fg_df * N) / (bg_df * m) recomputed from pure-Python counts over
    the live corpus."""
    from collections import Counter

    from wikitfidf_spark.tokenize import tokenize_py

    docs = make_code_files(spark, n_docs=120, seed=42)
    split = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(4)) == 0
    d = str(tmp_path / "idx_sig_stale")
    build_index(spark, docs.filter(~split), d, CFG, resume=False)
    add_documents(spark, docs.filter(split), d, refresh_scores=False)
    assert load_manifest(d)["stale_deltas"] == 1

    tfs = {
        r["doc_id"]: set(tokenize_py(r["content"]))
        for r in docs.withColumn("doc_id", F.xxhash64("repo", "path", "commit"))
        .select("doc_id", "content").collect()
    }
    n = len(tfs)
    dfc = Counter(t for ts in tfs.values() for t in ts)
    hot = sorted(dfc, key=lambda t: (-dfc[t], t))
    panels = [(0, hot[:1]), (1, hot[5:7])]
    idx = InvertedIndex(spark, d)
    rows = idx.significant_terms_batch(panels, n=50, min_fg_df=1).collect()
    assert rows
    for qid, terms in panels:
        match = [ts for ts in tfs.values() if ts & set(terms)]
        fg = Counter(t for ts in match for t in ts)
        got = [r for r in rows if r["query_id"] == qid]
        assert got, qid
        for r in got:
            assert r["fg_df"] <= r["bg_df"], r
            assert (r["fg_df"], r["bg_df"]) == (fg[r["term"]], dfc[r["term"]]), r
            assert r["lift"] == (fg[r["term"]] * n) / (dfc[r["term"]] * len(match)), r


def test_index_report_tracks_lifecycle(spark, tmp_path):
    """index_report (manifest+filesystem only, no Spark) reflects each
    lifecycle stage: fresh build -> deferred add (generation + stale
    window) -> refresh (window closed) -> delete (tombstones) ->
    compact (one generation, tombstones folded)."""
    from wikitfidf_spark.index.build import (
        compact, delete_documents, index_report, refresh_scores,
    )

    docs = make_code_files(spark, n_docs=120, seed=42).cache()
    split = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(4)) == 0
    d = str(tmp_path / "idx_report")
    build_index(spark, docs.filter(~split), d, CFG, resume=False)
    r = index_report(d)
    assert r["tf_generations"] == 1 and r["stale_deltas"] == 0
    assert not r["has_tombstones"] and r["positions"] == "absent"
    assert r["live_docs"] == r["epoch_docs"] > 0
    assert r["structure_files"] > 0 and r["payload_bytes_on_disk"] > 0
    assert r["n_shards"] == CFG.n_shards

    add_documents(spark, docs.filter(split), d, refresh_scores=False)
    r = index_report(d)
    assert r["tf_generations"] == 2 and r["stale_deltas"] == 1
    assert r["live_docs"] == 120 and r["epoch_docs"] < 120

    refresh_scores(spark, d)
    r = index_report(d)
    assert r["stale_deltas"] == 0 and r["epoch_docs"] == 120

    victim = docs.limit(1).withColumn(
        "doc_id", F.xxhash64("repo", "path", "commit")
    ).collect()[0]["doc_id"]
    delete_documents(spark, [victim], d)
    r = index_report(d)
    assert r["has_tombstones"] and r["live_docs"] == 119

    compact(spark, d)
    r = index_report(d)
    assert r["tf_generations"] == 1 and not r["has_tombstones"]
    assert r["live_docs"] == r["epoch_docs"] == 119


def test_maybe_compact_closes_stale_window(spark, tmp_path):
    """The ingest-loop policy refreshes (not compacts) once
    stale_deltas reaches the threshold: the O(corpus) score map is paid
    once per K deferred deltas."""
    from wikitfidf_spark.index.build import maybe_compact

    docs = make_code_files(spark, n_docs=160, seed=42).cache()
    thirds = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(3))
    d = str(tmp_path / "idx_stale_policy")
    build_index(spark, docs.filter(thirds == 0), d, CFG, resume=False)
    add_documents(spark, docs.filter(thirds == 1), d, refresh_scores=False)
    assert maybe_compact(spark, d, max_stale_deltas=2) is None  # 1 < 2
    add_documents(spark, docs.filter(thirds == 2), d, refresh_scores=False)
    assert load_manifest(d)["stale_deltas"] == 2
    res = maybe_compact(spark, d, max_stale_deltas=2)
    assert res is not None
    m = load_manifest(d)
    assert m["stale_deltas"] == 0
    assert isinstance(index_paths(m)["scores"], str)  # single refreshed file
    # refresh is NOT compaction: the three structure generations remain
    assert len(set(index_paths(m)["structure"].values())) == 3
    assert m["metrics"]["total_docs"] == 160


def test_compact_clears_tombstones_and_allows_readd(spark, tmp_path):
    from wikitfidf_spark.index.build import compact, delete_documents, index_paths

    docs = make_code_files(spark, n_docs=200, seed=42).cache()
    kill = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(4)) == 0
    d = str(tmp_path / "idx_compact")
    build_index(spark, docs, d, CFG, resume=False)
    dead = docs.filter(kill)
    dead_ids = [r[0] for r in dead.select(F.xxhash64("repo", "path", "commit")).collect()]
    delete_documents(spark, dead_ids, d)
    pre = InvertedIndex(spark, d)
    res = compact(spark, d)
    m = load_manifest(d)
    assert "tombstones" not in index_paths(m)
    assert len(index_paths(m)["tf"]) == 1
    # compaction preserves results exactly
    post = InvertedIndex(spark, d)
    q = [Query(0, ["arg_cfg_get"], "OR", 10)]
    assert sorted((r["doc_id"], r["score_q"]) for r in pre.topk_batch(q).collect()) == \
           sorted((r["doc_id"], r["score_q"]) for r in post.topk_batch(q).collect())
    # tombstoned ids are re-addable after compaction
    add_documents(spark, dead.limit(1), d)
    assert load_manifest(d)["metrics"]["total_docs"] == res.metrics["total_docs"] + 1


def test_delete_split_factor_transition_stays_byte_identical(spark, tmp_path):
    """A delete that drops a hot term's global df across a sub-shard
    split-factor boundary (hot_df_threshold * n_shards multiple) must
    re-encode the shards the delete did NOT touch as well — the
    byte-identity invariant with a fresh build over the survivors holds
    unconditionally, not just below the hot threshold."""
    from wikitfidf_spark.index.build import delete_documents
    from wikitfidf_spark.tokenize import tokens_col

    docs = make_code_files(spark, n_docs=400, seed=42).cache()
    did = F.xxhash64("repo", "path", "commit")
    # kill set: docs living ONLY in canonical shard 0 (shard =
    # pmod(xxhash64(doc_id), n_shards)), so shard 1 is untouched by the
    # delete itself and only the transition logic can re-encode it
    dead_ids = [
        r["i"]
        for r in docs.select(did.alias("i"))
        .filter(F.pmod(F.xxhash64(F.col("i")), F.lit(2)) == 0)
        .orderBy("i").limit(150).collect()
    ]
    dead_set = {int(i) for i in dead_ids}
    keep_docs = docs.filter(~did.isin(dead_ids)).cache()

    # pick the hottest term and a hot_df_threshold such that the delete
    # crosses the split boundary: df_keep <= 2*hot < df_all
    df_of = lambda d: {
        r["term"]: r["df"]
        for r in d.select(F.explode(F.array_distinct(tokens_col("content"))).alias("term"))
        .groupBy("term").agg(F.count("*").alias("df")).collect()
    }
    df_all, df_keep = df_of(docs), df_of(keep_docs)
    term = max(df_all, key=df_all.get)
    hot = (df_keep[term] + 1) // 2
    assert df_keep[term] <= 2 * hot < df_all[term], "fixture must cross the boundary"
    cfg = IndexConfig(n_shards=2, n_salts=2, block_size=32, hot_df_threshold=hot)

    full_dir = str(tmp_path / "idx_keep_only")
    del_dir = str(tmp_path / "idx_deleted")
    build_index(spark, keep_docs, full_dir, cfg, resume=False)
    build_index(spark, docs, del_dir, cfg, resume=False)

    # precondition: the all-docs build really split the hot term, and
    # the keep-only build really didn't
    sub = lambda d: postings_view(spark, d).filter(F.col("term") == term) \
        .agg(F.max("sub_shard").alias("m")).collect()[0]["m"]
    assert sub(del_dir) > 0 and sub(full_dir) == 0

    delete_documents(spark, dead_ids, del_dir)
    # the untouched shard 1 was pulled into the re-encode: both shards'
    # owner is the delete's structure file
    owners = index_paths(load_manifest(del_dir))["structure"]
    assert set(owners.values()) == {"structure_del_v1.parquet"}
    assert _postings_rows(spark, full_dir) == _postings_rows(spark, del_dir)


def test_more_like_this_during_stale_window(spark, tmp_path):
    """During a deferred-refresh window, more_like_this on a delta doc
    whose vocabulary is brand-new must still rank its terms (the epoch
    dictionary lacks them — an inner join would silently drop every
    term and return NO results).  The structure-derived live-df
    fallback keeps the stale-mode contract: doc sets exact, scores
    epoch-stale."""
    from wikitfidf_spark.index.build import refresh_scores
    from wikitfidf_spark.index.query import InvertedIndex

    docs = make_code_files(spark, n_docs=60, seed=42)
    d = str(tmp_path / "idx_mlt_stale")
    build_index(spark, docs, d, CFG, resume=False)

    novel = "zzqa zzqb zzqc zzqa zzqb zzqa"  # tokens unseen in the corpus
    delta = spark.createDataFrame(
        [("r_new", "p_new.py", "c1", "py", novel),
         ("r_new", "p_new2.py", "c1", "py", novel + " zzqd")],
        "repo string, path string, commit string, lang string, content string",
    )
    add_documents(spark, delta, d, refresh_scores=False)
    m = load_manifest(d)
    assert m["stale_deltas"] == 1

    idx = InvertedIndex(spark, d)
    new_id = [
        r["doc_id"] for r in idx.docmeta.filter(F.col("path") == "p_new.py")
        .select("doc_id").collect()
    ][0]
    res = idx.more_like_this(new_id, m=4, k=5).collect()
    # the sibling delta doc shares all its terms — it MUST be found
    sibling = [
        r["doc_id"] for r in idx.docmeta.filter(F.col("path") == "p_new2.py")
        .select("doc_id").collect()
    ][0]
    assert sibling in {r["doc_id"] for r in res}
    # after refresh the same call still works (fallback inert)
    refresh_scores(spark, d)
    idx2 = InvertedIndex(spark, d)
    res2 = idx2.more_like_this(new_id, m=4, k=5).collect()
    assert sibling in {r["doc_id"] for r in res2}


def test_stale_add_split_factor_transition_stays_byte_identical(spark, tmp_path):
    """A deferred add whose delta pushes a hot term's merged-corpus df
    across a sub-shard split boundary must split the delta's encode the
    way an exact-mode add would: the split decision uses exact merged
    df (epoch + un-refreshed generations + delta) even though scores
    stay epoch-stale.  Otherwise refresh_scores — which rewrites score
    streams only, never structure bytes — could never converge the
    deferred index to the exact-mode one."""
    from wikitfidf_spark.index.build import refresh_scores
    from wikitfidf_spark.tokenize import tokens_col

    docs = make_code_files(spark, n_docs=400, seed=42).cache()
    split = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(4)) == 0
    base_docs = docs.filter(~split).cache()
    delta_docs = docs.filter(split).cache()

    df_of = lambda d: {
        r["term"]: r["df"]
        for r in d.select(F.explode(F.array_distinct(tokens_col("content"))).alias("term"))
        .groupBy("term").agg(F.count("*").alias("df")).collect()
    }
    df_all, df_base = df_of(docs), df_of(base_docs)
    term = max(df_all, key=df_all.get)
    # threshold placed so the delta crosses the boundary:
    # df_base <= 2*hot < df_merged
    hot = (df_base[term] + 1) // 2
    assert df_base[term] <= 2 * hot < df_all[term], "fixture must cross the boundary"
    cfg = IndexConfig(n_shards=2, n_salts=2, block_size=32, hot_df_threshold=hot)

    exact_dir = str(tmp_path / "idx_exact_split")
    stale_dir = str(tmp_path / "idx_stale_split")
    build_index(spark, base_docs, exact_dir, cfg, resume=False)
    build_index(spark, base_docs, stale_dir, cfg, resume=False)
    add_documents(spark, delta_docs, exact_dir)
    add_documents(spark, delta_docs, stale_dir, refresh_scores=False)

    # precondition: the delta generation really split the hot term —
    # in BOTH modes (before the df_split fix the stale encode saw only
    # epoch df and never split)
    sub = lambda d: postings_view(spark, d).filter(F.col("term") == term) \
        .agg(F.max("sub_shard").alias("m")).collect()[0]["m"]
    assert sub(exact_dir) > 0
    assert sub(stale_dir) > 0

    refresh_scores(spark, stale_dir)
    assert _postings_rows(spark, exact_dir) == _postings_rows(spark, stale_dir)


def test_delete_empty_sequence_is_noop(spark, tmp_path):
    """delete_documents with nothing to delete must not pay the
    O(corpus) derived rebuild (dictionary agg + index-wide score map)
    or bump the version — same guard for the sequence and DataFrame
    forms."""
    from wikitfidf_spark.index.build import delete_documents

    d = str(tmp_path / "idx_del_noop")
    build_index(spark, make_code_files(spark, n_docs=40, seed=3), d, CFG, resume=False)
    before = load_manifest(d)
    delete_documents(spark, [], d)
    delete_documents(spark, spark.createDataFrame([], "doc_id long"), d)
    after = load_manifest(d)
    assert after.get("version", 0) == before.get("version", 0)
    assert after["paths"] == before["paths"]


@pytest.mark.parametrize(
    "seed",
    # soak knob: WTF_FUZZ_SEEDS=101,102,103 pytest ... -k lifecycle_converges
    [int(s) for s in os.environ.get("WTF_FUZZ_SEEDS", "11,23").split(",")],
)
def test_randomized_update_lifecycle_converges(spark, tmp_path, seed):
    """Fuzz the whole update state machine: a seeded random sequence of
    exact adds, deferred adds, deletes, refreshes and mid-sequence
    compactions over disjoint doc slices must end — after a final
    refresh + compact — byte-identical to a fresh build over exactly
    the surviving documents.  Complements the targeted invariants
    (split-factor transitions, staleness convergence, tombstone
    re-encode) by composing them in random orders."""
    import random

    from wikitfidf_spark.index.build import (
        compact, delete_documents, refresh_scores,
    )

    rng = random.Random(seed)
    docs = make_code_files(spark, n_docs=360, seed=42).cache()
    did = F.xxhash64("repo", "path", "commit")
    slice_of = F.pmod(did, F.lit(6))
    slices = [docs.filter(slice_of == i).cache() for i in range(6)]
    ids_of = lambda df: {int(r["i"]) for r in df.select(did.alias("i")).collect()}

    d = str(tmp_path / f"idx_fuzz_{seed}")
    build_index(spark, slices[0], d, CFG, resume=False)
    live = set(ids_of(slices[0]))
    deleted: set[int] = set()
    pool = list(range(1, 6))  # unadded slices
    rng.shuffle(pool)

    ops = 0
    while pool or ops < 6:
        choice = rng.choice(["add", "add_deferred", "delete", "refresh", "compact"])
        ops += 1
        if ops > 12:
            break
        if choice in ("add", "add_deferred") and pool:
            s = slices[pool.pop()]
            add_documents(spark, s, d, refresh_scores=(choice == "add"))
            live |= ids_of(s)
        elif choice == "delete":
            # never re-deletes and never deletes below 20 docs
            candidates = sorted(live - deleted)
            if len(candidates) > 30:
                kill = rng.sample(candidates, rng.randint(1, 10))
                delete_documents(spark, kill, d)
                live -= set(kill)
                deleted |= set(kill)
        elif choice == "refresh":
            refresh_scores(spark, d)
        elif choice == "compact":
            compact(spark, d)
        # the two stale counters move together: a deferred add raises
        # both, and every op that re-scores the index resets both
        m = load_manifest(d)
        assert (m["stale_deltas"] == 0) == (
            m["metrics"].get("stale_delta_scores_bytes", 0) == 0
        ), (ops, choice, m["stale_deltas"], m["metrics"].get("stale_delta_scores_bytes"))

    refresh_scores(spark, d)
    compact(spark, d)

    fresh_dir = str(tmp_path / f"idx_fuzz_fresh_{seed}")
    survivors = docs.filter(did.isin([int(x) for x in sorted(live)]))
    build_index(spark, survivors, fresh_dir, CFG, resume=False)
    assert load_manifest(d)["metrics"]["total_docs"] == len(live)
    assert _postings_rows(spark, fresh_dir) == _postings_rows(spark, d)


def test_lifecycle_ops_start_no_more_spark_jobs(spark, tmp_path):
    """The Spark jobs each lifecycle op starts on one small index (the
    status tracker's job ids before and after the op, nothing else
    running).  Each count may only fall.  The pinned counts were
    measured before every op ended in one commit tail, on this 120-doc,
    4-shard index: exact add 41, deferred add 30, refresh 21, delete 50,
    compact 27."""
    from wikitfidf_spark.index.build import compact, delete_documents, refresh_scores

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(fn) -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        before = set(tracker.getJobIdsForGroup())
        fn()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(set(tracker.getJobIdsForGroup()) - before)

    docs = make_code_files(spark, n_docs=120, seed=42)
    thirds = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(3))
    parts = [docs.filter(thirds == i).cache() for i in range(3)]
    for p in parts:
        p.count()
    d = str(tmp_path / "idx_jobs")
    build_index(spark, parts[0], d, CFG, resume=False)
    victim = parts[0].select(F.xxhash64("repo", "path", "commit")).first()[0]
    counts = {
        "exact add": jobs(lambda: add_documents(spark, parts[1], d)),
        "deferred add": jobs(lambda: add_documents(spark, parts[2], d, refresh_scores=False)),
        "refresh": jobs(lambda: refresh_scores(spark, d)),
        "delete": jobs(lambda: delete_documents(spark, [victim], d)),
        "compact": jobs(lambda: compact(spark, d)),
    }
    pinned = {"exact add": 41, "deferred add": 30, "refresh": 21, "delete": 50, "compact": 27}
    assert all(counts[op] <= pinned[op] for op in pinned), (counts, pinned)
