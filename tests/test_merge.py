"""Index merge (build.merge_from_index): per-partition indexes built
independently must fold together into an index that is rank- and
score-identical to a monolithic build — and byte-identical after
compaction.  No raw text is re-read during the merge (the src tf
generations are harvested), and no existing dst shard is re-encoded."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from wikitfidf_spark.corpus import make_code_files
from wikitfidf_spark.index.build import (
    IndexConfig, build_index, compact, load_manifest, merge_from_index,
    postings_view, refresh_scores,
)
from wikitfidf_spark.index.query import InvertedIndex, Query

CFG = IndexConfig(n_shards=4, n_salts=2, block_size=32)

IDENTITY_COLS = [
    "shard", "term", "sub_shard", "n_docs", "cf",
    "docs_payload", "tfs_payload", "dls_payload", "scores_payload",
    "block_max_score",
]


def _postings_rows(spark, d):
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


QS = [
    Query(0, ["data_repo_map", "core_write_run"], "OR", 10),
    Query(1, ["arg_cfg_get"], "OR", 10),
    Query(2, ["arg_ctx77", "arg_cfg"], "AND", 10),
]


def _topk_rows(spark, d):
    return sorted(
        (r["query_id"], r["doc_id"], r["score_q"], r["rank"])
        for r in InvertedIndex(spark, d).topk_batch(QS).collect()
    )


@pytest.fixture(scope="module")
def dirs(spark, tmp_path_factory):
    """full = monolithic build over 700 docs; a/b = independent builds
    over a 3:1 split (the per-partition pattern); merged = a ⊕ b."""
    docs = make_code_files(spark, n_docs=700, seed=42).cache()
    split = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(4)) == 0
    a_docs, b_docs = docs.filter(~split), docs.filter(split)
    full_dir = str(tmp_path_factory.mktemp("m_full"))
    a_dir = str(tmp_path_factory.mktemp("m_a"))
    b_dir = str(tmp_path_factory.mktemp("m_b"))
    build_index(spark, docs, full_dir, CFG, resume=False)
    build_index(spark, a_docs, a_dir, CFG, resume=False)
    build_index(spark, b_docs, b_dir, CFG, resume=False)
    merged_dir = str(tmp_path_factory.mktemp("m_merged"))
    shutil.copytree(a_dir, merged_dir, dirs_exist_ok=True)
    merge_from_index(spark, merged_dir, b_dir)
    return full_dir, a_dir, b_dir, merged_dir


def test_merge_rank_and_score_identical(spark, dirs):
    full_dir, _, _, merged_dir = dirs
    assert _topk_rows(spark, full_dir) == _topk_rows(spark, merged_dir)


def test_merge_metrics_match_monolithic(spark, dirs):
    full_dir, _, _, merged_dir = dirs
    mf, mm = load_manifest(full_dir), load_manifest(merged_dir)
    assert mm["metrics"]["total_docs"] == mf["metrics"]["total_docs"] == 700
    assert mm["metrics"]["n_postings"] == mf["metrics"]["n_postings"]
    assert mm["metrics"]["avgdl"] == mf["metrics"]["avgdl"]


def test_merge_touches_no_existing_shard(spark, dirs):
    _, _, _, merged_dir = dirs
    m = load_manifest(merged_dir)
    ph = next(v for k, v in m["phases"].items() if k.startswith("merge_g"))
    assert ph["existing_shards_reencoded"] == 0
    assert ph["new_shards"] >= 1


def test_merge_then_compact_byte_identical(spark, dirs, tmp_path, check_index_files):
    full_dir, _, _, merged_dir = dirs
    cdir = str(tmp_path / "merged_compacted")
    shutil.copytree(merged_dir, cdir)
    compact(spark, cdir)
    assert _postings_rows(spark, full_dir) == _postings_rows(spark, cdir)
    check_index_files(cdir)


def test_merge_writes_zstd_one_shard_per_file(dirs, check_index_files):
    """The merged index (harvested tf/docmeta, generation structure,
    refreshed scores) is zstd throughout, one shard per structure file."""
    _, _, _, merged_dir = dirs
    assert check_index_files(merged_dir) > 0


def test_merge_deferred_then_refresh_converges(spark, dirs, tmp_path):
    """refresh_scores=False merges serve immediately with epoch-stale
    scores; refresh_scores() closes the window bit-identically to an
    exact-mode merge."""
    _, a_dir, b_dir, merged_dir = dirs
    sdir = str(tmp_path / "merged_stale")
    shutil.copytree(a_dir, sdir)
    merge_from_index(spark, sdir, b_dir, refresh_scores=False)
    m = load_manifest(sdir)
    assert m["stale_deltas"] == 1
    # doc sets exact even while scores are stale
    stale_docs = sorted(
        r["doc_id"]
        for r in InvertedIndex(spark, sdir).topk_batch(
            [Query(0, ["arg_cfg_get"], "OR", 1000)]
        ).collect()
    )
    exact_docs = sorted(
        r["doc_id"]
        for r in InvertedIndex(spark, merged_dir).topk_batch(
            [Query(0, ["arg_cfg_get"], "OR", 1000)]
        ).collect()
    )
    assert stale_docs == exact_docs
    refresh_scores(spark, sdir)
    assert _postings_rows(spark, sdir) == _postings_rows(spark, merged_dir)


def test_merge_positions_carry_through(spark, dirs, tmp_path):
    """Both sides carrying a current positions artifact -> the merged
    index answers phrase queries identically to a monolithic index
    with positions, with no re-tokenize of the src (the artifact is
    shard-remapped)."""
    from wikitfidf_spark.index.positions import build_positions

    full_dir, a_dir, b_dir, _ = dirs
    docs = make_code_files(spark, n_docs=700, seed=42).cache()
    split = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(4)) == 0
    fdir = str(tmp_path / "pfull")
    adir = str(tmp_path / "pa")
    bdir = str(tmp_path / "pb")
    for d, src in ((fdir, full_dir), (adir, a_dir), (bdir, b_dir)):
        shutil.copytree(src, d)
    build_positions(spark, docs, fdir)
    build_positions(spark, docs.filter(~split), adir)
    build_positions(spark, docs.filter(split), bdir)
    merge_from_index(spark, adir, bdir)
    m = load_manifest(adir)
    assert m["positions_version"] == m["version"]
    terms = ["arg_ctx77", "arg_cfg"]
    get = lambda d: sorted(
        (r["doc_id"], r["score_q"])
        for r in InvertedIndex(spark, d).phrase_topk(terms, 20).collect()
    )
    assert get(adir) == get(fdir)


def test_merge_collision_raises(spark, dirs, tmp_path):
    _, a_dir, _, _ = dirs
    dup = str(tmp_path / "a_copy")
    shutil.copytree(a_dir, dup)
    with pytest.raises(ValueError, match=r"doc_id collisions \(merge\)"):
        merge_from_index(spark, dup, a_dir)


def test_merge_self_raises(spark, dirs):
    _, a_dir, _, _ = dirs
    with pytest.raises(ValueError, match="itself"):
        merge_from_index(spark, a_dir, a_dir)


def test_merge_config_mismatch_raises(spark, dirs, tmp_path):
    _, a_dir, _, _ = dirs
    other = str(tmp_path / "othercfg")
    docs = make_code_files(spark, n_docs=60, seed=99).cache()
    build_index(spark, docs, other, IndexConfig(n_shards=2, n_salts=2), resume=False)
    tgt = str(tmp_path / "a_copy2")
    shutil.copytree(a_dir, tgt)
    with pytest.raises(ValueError, match="different config"):
        merge_from_index(spark, tgt, other)


def test_mutators_reject_stale_format_dst(spark, dirs, tmp_path):
    """Every mutator validates the DST index's format before touching
    it (via _load_cfg): mutating a pre-current-format directory under
    new-layout assumptions would leave a half-migrated index, so the
    guard must fire before any write.  So do a resumed build, a reader
    and a merge that takes the directory as its SRC: no code path reads
    a manifest of another format, which is what lets the lifecycle ops
    rely on every key the current format's writers set."""
    import json

    from wikitfidf_spark.index.build import (
        add_documents, delete_documents, refresh_scores as _refresh,
    )
    from wikitfidf_spark.index.build import compact as _compact

    _, a_dir, b_dir, _ = dirs
    stale = str(tmp_path / "stale_fmt")
    shutil.copytree(a_dir, stale)
    mpath = os.path.join(stale, "manifest.json")
    m = json.load(open(mpath))
    m["format"] = 3
    json.dump(m, open(mpath, "w"))
    before = sorted(os.listdir(stale))
    dst = str(tmp_path / "fresh_dst")
    shutil.copytree(b_dir, dst)
    dst_before = load_manifest(dst)
    docs = make_code_files(spark, n_docs=10, seed=7)
    for op in (
        lambda: merge_from_index(spark, stale, b_dir),
        lambda: add_documents(spark, docs, stale),
        lambda: delete_documents(spark, docs.select(F.xxhash64("repo", "path", "commit").alias("doc_id")).limit(1), stale),
        lambda: _refresh(spark, stale),
        lambda: _compact(spark, stale),
        lambda: build_index(spark, docs, stale, CFG, resume=True),
        lambda: InvertedIndex(spark, stale),
        lambda: merge_from_index(spark, dst, stale),
    ):
        with pytest.raises(ValueError, match="format"):
            op()
    assert sorted(os.listdir(stale)) == before  # nothing was written
    assert load_manifest(dst) == dst_before  # nor into the merge's dst


@pytest.fixture(scope="module")
def kway_dirs(spark, dirs, tmp_path_factory):
    """Three independent slice builds over a 3-way split of the SAME
    700-doc corpus as `dirs` — the k-way fan-in pattern (one merge
    call folds every slice, paying the fixed per-merge costs once)."""
    docs = make_code_files(spark, n_docs=700, seed=42).cache()
    slice_col = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(3))
    slice_dirs = []
    for i in range(3):
        d = str(tmp_path_factory.mktemp(f"kway_s{i}"))
        build_index(spark, docs.filter(slice_col == i), d, CFG, resume=False)
        slice_dirs.append(d)
    return slice_dirs


def test_kway_merge_rank_identical_and_compacts_to_monolith(
    spark, dirs, kway_dirs, tmp_path
):
    """ONE merge_indexes call folding two srcs == the monolithic build:
    rank/score-identical immediately, byte-identical after compact."""
    from wikitfidf_spark.index.build import merge_indexes

    full_dir = dirs[0]
    merged = str(tmp_path / "kway_merged")
    shutil.copytree(kway_dirs[0], merged)
    merge_indexes(spark, merged, kway_dirs[1:])
    m = load_manifest(merged)
    assert m["metrics"]["total_docs"] == 700
    ph = next(v for k, v in m["phases"].items() if k.startswith("merge_g"))
    assert ph["existing_shards_reencoded"] == 0
    # exactly ONE new generation for the whole fan-in
    assert len(m["paths"]["tf"]) == 2
    assert _topk_rows(spark, full_dir) == _topk_rows(spark, merged)
    compact(spark, merged)
    assert _postings_rows(spark, full_dir) == _postings_rows(spark, merged)


def test_kway_matches_sequential_pairwise(spark, kway_dirs, tmp_path):
    """The k-way fold and the sequential pairwise fold converge to the
    same postings after compaction (same final corpus, same layout)."""
    from wikitfidf_spark.index.build import merge_indexes

    kway = str(tmp_path / "kway")
    shutil.copytree(kway_dirs[0], kway)
    merge_indexes(spark, kway, kway_dirs[1:], refresh_scores=False)
    pair = str(tmp_path / "pairwise")
    shutil.copytree(kway_dirs[0], pair)
    for d in kway_dirs[1:]:
        merge_from_index(spark, pair, d, refresh_scores=False)
    compact(spark, kway)
    compact(spark, pair)
    assert _postings_rows(spark, kway) == _postings_rows(spark, pair)


def test_kway_cross_src_collision_raises(spark, kway_dirs, tmp_path):
    """Each src is internally unique, but the same doc_id appearing in
    TWO srcs must be caught — the k-way path scans the union."""
    from wikitfidf_spark.index.build import merge_indexes

    dup_src = str(tmp_path / "s1_copy")
    shutil.copytree(kway_dirs[1], dup_src)
    dst = str(tmp_path / "kway_dst")
    shutil.copytree(kway_dirs[0], dst)
    with pytest.raises(ValueError, match="within new docs"):
        merge_indexes(spark, dst, [kway_dirs[1], dup_src])


def test_kway_same_src_listed_twice_raises(spark, kway_dirs, tmp_path):
    from wikitfidf_spark.index.build import merge_indexes

    dst = str(tmp_path / "kway_dst2")
    shutil.copytree(kway_dirs[0], dst)
    with pytest.raises(ValueError, match="listed twice"):
        merge_indexes(spark, dst, [kway_dirs[1], kway_dirs[1]])


def test_kway_empty_src_list_raises(spark, kway_dirs):
    from wikitfidf_spark.index.build import merge_indexes

    with pytest.raises(ValueError, match="at least one"):
        merge_indexes(spark, kway_dirs[0], [])


def test_kway_merge_folds_src_tombstones(spark, kway_dirs, tmp_path):
    """Docs deleted from a src BEFORE the merge must not enter the dst:
    the per-src tombstone anti-join harvests only live rows, and the
    merged index compacts to byte-identity with a fresh build over the
    live corpus."""
    from wikitfidf_spark.index.build import delete_documents, merge_indexes

    docs = make_code_files(spark, n_docs=700, seed=42).cache()
    slice_col = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(3))
    ids1 = docs.filter(slice_col == 1).select(
        F.xxhash64("repo", "path", "commit").alias("doc_id")
    )
    dead = ids1.orderBy("doc_id").limit(20)
    n_dead = dead.count()
    assert n_dead == 20

    src1 = str(tmp_path / "s1_with_deletes")
    shutil.copytree(kway_dirs[1], src1)
    delete_documents(spark, dead, src1)

    dst = str(tmp_path / "dst_tombs")
    shutil.copytree(kway_dirs[0], dst)
    merge_indexes(spark, dst, [src1, kway_dirs[2]])
    m = load_manifest(dst)
    assert m["metrics"]["total_docs"] == 700 - n_dead

    # dead ids never appear in any result
    dead_set = {r["doc_id"] for r in dead.collect()}
    got = {
        r["doc_id"]
        for r in InvertedIndex(spark, dst).topk_batch(
            [Query(0, ["arg_cfg_get"], "OR", 1000)]
        ).collect()
    }
    assert not (got & dead_set)

    # byte-identity with a fresh build over the live corpus
    live = docs.join(
        dead.withColumnRenamed("doc_id", "dead_id"),
        F.xxhash64("repo", "path", "commit") == F.col("dead_id"),
        "left_anti",
    )
    fresh = str(tmp_path / "fresh_live")
    build_index(spark, live, fresh, CFG, resume=False)
    compact(spark, dst)
    assert _postings_rows(spark, fresh) == _postings_rows(spark, dst)


def test_kway_merge_k5_byte_identical_to_monolith(spark, tmp_path):
    """Wider fan-in (k=5, uneven hash slices, a corpus the other
    fixtures don't use): one merge_indexes fold + compact is
    byte-identical to the monolithic build.  Seed picked from a
    randomized fuzz run; fixed here for determinism."""
    from wikitfidf_spark.index.build import merge_indexes

    docs = make_code_files(spark, n_docs=300, seed=283373).cache()
    mono = str(tmp_path / "mono")
    build_index(spark, docs, mono, CFG, resume=False)
    sl = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(5))
    dirs = []
    for i in range(5):
        d = str(tmp_path / f"s{i}")
        build_index(spark, docs.filter(sl == i), d, CFG, resume=False)
        dirs.append(d)
    merge_indexes(spark, dirs[0], dirs[1:])
    compact(spark, dirs[0])
    assert _postings_rows(spark, mono) == _postings_rows(spark, dirs[0])
