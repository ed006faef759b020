"""Deterministic synthetic source-code corpus (FIXTURES.md F1).

Generates the Iceberg-shaped input table from BASELINE.json:input_hint:

    repo: string, path: string, commit: string, lang: string, content: string

Every row is a **pure function of (seed, row index)** — so the pandas
generator (tests, oracles) and the distributed Spark generator (bench
scale) produce byte-identical rows, any subset can be regenerated
independently, and no driver-side bottleneck exists at scale.

Identifiers draw from a Zipfian vocabulary so document-frequency skew is
realistic (the `if`/`return` hot-term problem the salted aggregation in
operators/termstats.py exists for).  Exact duplicates are planted
deterministically for the dedup operators.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LANGS = ["python", "go", "java", "rust", "c"]

# A handful of "flagged" identifiers planted into contents for the
# badwords-report analogue (FIXTURES.md F5; reference list at
# /root/reference/internal/badwords/data/english).
FLAGGED_TERMS = [
    "todo_hack", "fixme_now", "xxx_temp", "legacy_shim", "dirty_patch",
    "evil_cast", "unsafe_ptr", "kludge_fn", "magic_number", "dead_code",
    "foot_gun", "yolo_merge", "cursed_api", "spaghetti", "bitrot",
    "hack_alert", "wtf_flag", "bodge_fix", "jank_mode", "rotten_egg",
]

DUP_EVERY = 50        # every 50th doc duplicates the content of (i - 7)
CODE_SCHEMA = "repo string, path string, commit string, lang string, content string"


def _vocab(n_terms: int, seed: int) -> list[str]:
    rng = np.random.RandomState(seed)
    syllables = [
        "get", "set", "run", "map", "idx", "buf", "ptr", "ctx", "cfg", "len",
        "str", "val", "tmp", "arg", "obj", "fmt", "num", "vec", "node", "list",
        "data", "item", "pack", "read", "write", "sync", "lock", "hash", "byte",
        "code", "file", "path", "repo", "line", "word", "page", "util", "core",
    ]
    vocab: list[str] = []
    seen: set[str] = set()
    while len(vocab) < n_terms:
        k = rng.randint(2, 4)
        w = "_".join(rng.choice(syllables) for _ in range(k))
        if rng.rand() < 0.3:
            w = f"{w}{rng.randint(0, 100)}"
        if w not in seen and 3 <= len(w) <= 33:
            seen.add(w)
            vocab.append(w)
    return vocab


def _content(i: int, seed: int, vocab: np.ndarray, zipf_a: float,
             min_tokens: int, max_tokens: int, flagged_rate: float) -> str:
    rng = np.random.RandomState((seed * 1_000_003 + i) % (2**31 - 1))
    n_tok = rng.randint(min_tokens, max_tokens + 1)
    idx = np.minimum(rng.zipf(zipf_a, size=n_tok) - 1, len(vocab) - 1)
    toks = list(vocab[idx])
    if rng.rand() < flagged_rate:
        k = rng.randint(1, 4)
        for f_t in rng.choice(FLAGGED_TERMS, size=k, replace=False):
            toks.insert(rng.randint(0, len(toks)), str(f_t))
    if i % 97 == 0:
        toks.append("rare_conjunct_alpha")
    if i % 194 == 0:
        toks.append("rare_conjunct_beta")
    # render with code-ish punctuation (outside the token grammar, so it
    # never affects term counts)
    out = []
    j = 0
    while j < len(toks):
        k = min(len(toks) - j, int(rng.randint(2, 6)))
        grp = toks[j : j + k]
        style = rng.randint(0, 4)
        if style == 0:
            out.append(f"def {grp[0]}({', '.join(grp[1:])}):")
        elif style == 1:
            out.append(f"{grp[0]} = {'.'.join(grp[1:]) or '0'}")
        elif style == 2:
            out.append(f"if {grp[0]}: {' '.join(grp[1:])}")
        else:
            out.append("  ".join(grp))
        j += k
    return "\n".join(out)


def _row(i: int, n_docs: int, seed: int, vocab: np.ndarray, zipf_a: float,
         min_tokens: int, max_tokens: int, flagged_rate: float) -> tuple:
    repo = f"org{i % 3}/proj{i % max(2, n_docs // 500)}"
    lang = LANGS[i % len(LANGS)]
    rng = np.random.RandomState((seed * 7_919 + i) % (2**31 - 1))
    path = f"src/pkg{rng.randint(0, 20)}/file{i}.{lang[:2]}"
    commit = hashlib.sha1(f"{repo}:{i}:{seed}".encode()).hexdigest()
    commit = (commit + commit)[:40]
    src_i = i - 7 if (i % DUP_EVERY == DUP_EVERY - 1 and i >= 7) else i
    content = _content(src_i, seed, vocab, zipf_a, min_tokens, max_tokens, flagged_rate)
    return (repo, path, commit, lang, content)


def make_code_files_pdf(
    n_docs: int = 5000,
    seed: int = 42,
    n_terms: int = 2000,
    zipf_a: float = 1.3,
    min_tokens: int = 50,
    max_tokens: int = 500,
    flagged_rate: float = 0.15,
) -> pd.DataFrame:
    vocab = np.array(_vocab(n_terms, seed + 1))
    rows = [
        _row(i, n_docs, seed, vocab, zipf_a, min_tokens, max_tokens, flagged_rate)
        for i in range(n_docs)
    ]
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])


def make_code_files(
    spark: SparkSession,
    n_docs: int = 5000,
    seed: int = 42,
    n_partitions: int | None = None,
    *,
    n_terms: int = 2000,
    zipf_a: float = 1.3,
    min_tokens: int = 50,
    max_tokens: int = 500,
    flagged_rate: float = 0.15,
) -> DataFrame:
    """Distributed generator: identical rows to :func:`make_code_files_pdf`
    (tests assert it), generated executor-side — no driver bottleneck,
    no giant serialized tasks, proper partitioning from the start.
    Explicit keyword params (no **kw): a typoed knob must fail fast,
    not silently generate a different corpus."""
    n_parts = n_partitions or spark.sparkContext.defaultParallelism
    params = dict(
        n_terms=n_terms,
        zipf_a=zipf_a,
        min_tokens=min_tokens,
        max_tokens=max_tokens,
        flagged_rate=flagged_rate,
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vocab = np.array(_vocab(params["n_terms"], seed + 1))
        for pdf in batches:
            rows = [
                _row(int(i), n_docs, seed, vocab, params["zipf_a"],
                     params["min_tokens"], params["max_tokens"], params["flagged_rate"])
                for i in pdf["id"]
            ]
            yield pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])

    return spark.range(0, n_docs, numPartitions=n_parts).mapInPandas(gen, CODE_SCHEMA)


def with_doc_id(docs: DataFrame) -> DataFrame:
    """Stable deterministic docID (SURVEY.md §4 risk 5): xxhash64 of the
    natural key — never ``monotonically_increasing_id`` (run-dependent).
    Collision-checked at test scale in tests/test_index_e2e.py."""
    return docs.withColumn("doc_id", F.xxhash64("repo", "path", "commit"))


def with_sha256(docs: DataFrame, text_col: str = "content") -> DataFrame:
    """Per-row invariant vs the reference (BASELINE.json:input_hint):
    the engine only ever derives from content, never mutates it."""
    return docs.withColumn("content_sha256", F.sha2(F.col(text_col), 256))


def bench_query_mix(n: int = 100, seed: int = 17, vocab_terms: int = 2000, vocab_seed: int = 43) -> list:
    """Deterministic BM25 query mix over the synthetic vocabulary: a
    head-heavy third (hot terms with long posting lists), rare
    conjuncts, 1-3 term AND/OR.  Shared by bench.py and the
    spark-submit scaling job so all harnesses measure the same load."""
    from wikitfidf_spark.index.query import Query

    vocab = _vocab(vocab_terms, vocab_seed)
    rng = np.random.RandomState(seed)
    qs = []
    for i in range(n):
        k_terms = int(rng.randint(1, 4))
        pool = vocab[:50] if i % 3 == 0 else vocab  # head-heavy third
        terms = [pool[int(rng.randint(0, len(pool)))] for _ in range(k_terms)]
        if i % 10 == 0:
            terms.append(FLAGGED_TERMS[i // 10 % len(FLAGGED_TERMS)])
        mode = "AND" if i % 4 == 0 and len(terms) > 1 else "OR"
        qs.append(Query(i, terms, mode, 10))
    return qs
