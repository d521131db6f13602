"""smatchpp_spark — a from-scratch PySpark-native link-graph analytics engine.

Re-expresses the capabilities of flipz357/smatchpp (semantic-graph parsing,
standardization, de/reification, pairwise alignment scoring, corpus
statistics) as bulk DataFrame operators over a global edge table
``(graph_id, src, rel, dst)``, and adds the iterative link-graph operators
(PageRank, connected components, label propagation, triangle counting)
plus large-scale training-data pipeline operators (dedup, similarity
search, text analysis).

Everything is DataFrame-first: Catalyst plans the physical execution; the
only Python on the hot path is vectorized Arrow UDFs (``mapInPandas`` /
``applyInPandas`` / cogrouped kernels), never per-row Python UDFs.
"""

from smatchpp_spark.session import get_spark

EDGE_COLUMNS = ("graph_id", "src", "rel", "dst")

__all__ = ["get_spark", "EDGE_COLUMNS", "SmatchppSpark", "EngineConfig"]


def __getattr__(name):
    # lazy so `import smatchpp_spark` stays light for spark-submit workers
    if name in ("SmatchppSpark", "EngineConfig"):
        from smatchpp_spark import engine

        return getattr(engine, name)
    raise AttributeError(name)
