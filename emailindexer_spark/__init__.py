"""emailindexer_spark — a PySpark-native inverted-index + BM25 engine.

A brand-new engine (not a port) with the query and data-processing
capabilities of the reference ``ArchitecturalKnowledgeAnalysis/EmailIndexer``
(Lucene 9.1 + H2; see SURVEY.md), re-expressed Spark-first over tables of
multi-turn conversation/agent transcripts::

    transcripts(conv_id string, turn_idx int, role string,
                text string, tool string, ts timestamp)

Pipeline (SURVEY.md §2.10 / §3):

  one staging kernel per conversation-range shard (in-process on the
  driver for small inputs, one Spark task per shard otherwise):
  docID assignment (dense rank over the stable (conv_id, turn_idx)
  ordering, each shard from its base) → vectorized tokenize
  (StandardAnalyzer-parity for the validated ASCII classes) → term-sorted
  posting lists with docID delta + varbyte compression in independently
  decodable 128-doc blocks, heavy terms cut into doc-range splits, files
  laid out by md5(term) part, every table a zstd Parquet file →
  broadcast doc-length statistics →
  top-k BM25 (k1=1.2, b=0.75, Lucene-9 lossy norm semantics) by an
  exhaustive vectorized pass → conversation collapse (reference: root-id
  dedup, EmailIndexSearcher.java:58-71).
"""

__version__ = "0.4.1"

from emailindexer_spark.config import get_spark  # noqa: F401
