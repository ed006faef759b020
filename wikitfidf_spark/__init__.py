"""wikitfidf_spark — a PySpark-native inverted-index + BM25 top-k engine.

Re-expresses the semantics of negapedia/wikitfidf (reference at
/root/reference, Go + Cython, single node) as an idiomatic Spark
DataFrame pipeline, generalized into a posting-list inverted index with
batched BM25 top-k querying per BASELINE.json:north_rule.

Layout
------
- ``session``      SparkSession builder with the knobs this engine needs
- ``tokenize``     the shared deterministic code tokenizer (JVM expr,
                   Arrow pandas UDF, and pure-Python oracle — all equal)
- ``corpus``       deterministic synthetic code_files fixture generator
- ``operators/``   relational operators mirroring the reference stages
                   (term stats, tf-idf, top-k, topics, badwords, dedup,
                   similarity, text stats, filters)
- ``index/``       posting-list codec, sharded index build (resumable,
                   skew-salted), and the BM25 query engine (relational
                   path + vectorized per-shard top-k kernel)
"""

__version__ = "0.1.0"
