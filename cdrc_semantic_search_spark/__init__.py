"""cdrc_semantic_search_spark — a PySpark-native KG-construction engine.

A from-scratch re-expression of the query/data-processing capabilities of
``cjber/cdrc-semantic-search`` (reference at /root/reference, read-only) as a
knowledge-graph construction pipeline over Iceberg-style tables of multi-turn
conversation transcripts:

    transcripts  →  triple extraction + mention detection (SURVEY §2.11 D6)
                 →  top-k cosine entity linking    (SURVEY §2.4 J3, §2.9 V2-V5)
                 →  canonicalization (conn. comp.) (SURVEY §2.4 self-join)
                 →  kg_nodes / kg_edges materialize (SURVEY §2.2 K1/K2)

Everything is DataFrame/Catalyst-first; the KG path touches data in Python
only through Arrow-batched ``mapInArrow`` passes — never per-row.
"""

__version__ = "0.1.0"

from cdrc_semantic_search_spark.config import Settings
from cdrc_semantic_search_spark.session import get_spark

__all__ = ["Settings", "get_spark", "__version__"]
