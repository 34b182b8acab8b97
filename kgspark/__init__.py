"""kgspark — a PySpark-native knowledge-graph construction engine.

Re-expresses the capabilities of the reference pipeline
(asifrahaman13/knowledge-graph, surveyed in /root/repo/SURVEY.md) as
cluster-scale DataFrame stages:

    pages(url, warc_ts, html, text, lang)
      -> S1 extract_text (vectorized Arrow UDF, byte-identical per url)
      -> S2 chunk        (grouped Arrow UDF, reference chunker semantics)
      -> S3 embed        (deterministic hashing featurizer, pandas UDF)
      -> S4 extract      (deterministic rule extractor -> mentions + raw edges)
      -> S5 link         (exact-name + MinHash/LSH similarity edges)
      -> S6 canonicalize (iterative connected-components label propagation)
      -> S7 materialize  (dedup agg + endpoint semi-joins -> kg_nodes/kg_edges)

Everything is public PySpark DataFrame API; no per-row Python UDFs.
"""

__version__ = "0.1.0"

CHUNK_SIZE = 500      # reference default: src/core/text_chunker.py:6
CHUNK_OVERLAP = 100   # reference default: src/core/text_chunker.py:6
EMBED_DIM = 64        # engine default (reference uses 3072 via OpenAI)
TOP_K = 5             # reference default: src/builders/graphrag.py:22
MAX_DEPTH = 2         # reference default: src/builders/graphrag.py:23
VECTOR_WEIGHT = 0.7   # reference default: src/builders/graphrag.py:25
KEYWORD_WEIGHT = 0.3  # reference default: src/builders/graphrag.py:26

# Inside a Python worker task, stop re-reading every zip/jar directory on
# each task (kgspark/pyworker.py); a no-op in any other process.
from kgspark.pyworker import install_in_worker  # noqa: E402

install_in_worker()
