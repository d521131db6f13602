"""Training-data pipeline operators: text analysis, deduplication,
similarity search, sketches, tokenizer merges and event rollups.

These extend the smatchpp-derived graph engine with the bulk operations a
large-scale (100 TB) training-data pipeline needs over a ``documents``
table ``(doc_id, text, lang, source, n_chars)`` and an ``embeddings``
table ``(vec_id, embedding array<float>, label)``.  Everything is
JVM-side column arithmetic (codegen).
"""

from smatchpp_spark.pipeline import (  # noqa: F401
    dedup,
    events,
    similarity,
    text,
)
