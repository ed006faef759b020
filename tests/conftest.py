from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wikitfidf_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="wikitfidf_tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus(spark):
    """Small deterministic code_files fixture (FIXTURES.md F1)."""
    from wikitfidf_spark.corpus import make_code_files

    return make_code_files(spark, n_docs=300, seed=42).cache()


@pytest.fixture(scope="session")
def corpus_pdf():
    from wikitfidf_spark.corpus import make_code_files_pdf

    return make_code_files_pdf(n_docs=300, seed=42)


@pytest.fixture(scope="session")
def check_index_files():
    """Checker for the on-disk layout of an index directory: every
    parquet file its manifest references is zstd-compressed (per the
    file footers), and every structure and positions file holds exactly
    one shard.  Returns the number of files checked."""
    import glob

    import pyarrow.parquet as pq

    from wikitfidf_spark.index.build import index_paths, load_manifest

    def rels(v):
        if isinstance(v, str):
            return {v}
        return set(v.values() if isinstance(v, dict) else v)

    def check(index_dir: str) -> int:
        p = index_paths(load_manifest(index_dir))
        per_shard = rels(p["structure"]) | rels(p.get("positions") or [])
        n = 0
        for rel in sorted(set().union(*(rels(v) for v in p.values() if v))):
            files = glob.glob(os.path.join(index_dir, rel, "*.parquet"))
            assert files, rel
            for f in files:
                md = pq.ParquetFile(f).metadata
                codecs = {
                    md.row_group(g).column(c).compression
                    for g in range(md.num_row_groups)
                    for c in range(md.num_columns)
                }
                assert codecs == {"ZSTD"}, (f, codecs)
                if rel in per_shard:
                    shards = set(pq.read_table(f, columns=["shard"])["shard"].to_pylist())
                    assert len(shards) == 1, (f, shards)
                n += 1
        return n

    return check
