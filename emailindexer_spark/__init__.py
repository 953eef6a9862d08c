"""emailindexer_spark — a PySpark-native inverted-index + BM25 engine.

A brand-new engine (not a port) with the query and data-processing
capabilities of the reference ``ArchitecturalKnowledgeAnalysis/EmailIndexer``
(Lucene 9.1 + H2; see SURVEY.md), re-expressed Spark-first over tables of
multi-turn conversation/agent transcripts::

    transcripts(conv_id string, turn_idx int, role string,
                text string, tool string, ts timestamp)

Pipeline (SURVEY.md §2.10 / §3):

  tokenize (vectorized Arrow/pandas UDF, StandardAnalyzer-parity for the
  validated ASCII classes) → docID assignment (dense rank over the stable
  (conv_id, turn_idx) ordering, two-phase at scale) → per-partition sorted
  posting lists with docID delta + varbyte compression and 128-doc
  block-max skip metadata → salted repartition-by-term merge with explicit
  skew splitting for heavy terms → broadcast doc-length statistics →
  top-k BM25 (k1=1.2, b=0.75, Lucene-9 lossy norm semantics) via
  block-max WAND with an exhaustive vectorized fallback → conversation
  collapse (reference: root-id dedup, EmailIndexSearcher.java:58-71).
"""

__version__ = "0.3.1"

from emailindexer_spark.config import get_spark  # noqa: F401
