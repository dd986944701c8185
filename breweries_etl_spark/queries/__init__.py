"""Every registered query, one record each (see ``record.py``).

Each module below declares one bench family. Families group queries
whose cost profiles belong together: ``bench.py`` runs each family in a
fresh JVM, in this order, and within a family in declaration order,
cheap scans and aggregates before cache-heavy pipelines. Queries kept
off the bench (``bench=False``) live in the module of their operator
area. SQL fragments and oracle builders shared across modules are in
``shared.py``.
"""

from __future__ import annotations

import importlib

from breweries_etl_spark.queries.record import REGISTRY

FAMILIES = (
    "core", "corestate", "coreprofile", "text", "textgrams", "temporal",
    "temporal_state", "dedup", "dedup_minhash", "dedup_incremental", "vector",
    "graph_bfs", "graph_pagerank", "profile", "stats", "r6wave", "r6eval",
    "r6drift", "r7stats", "r7graph", "r7docs", "r7series", "mlx", "r8stats",
    "r8corpus", "r9wave", "r10stats", "r11stats", "r12stats",
)

for _family in FAMILIES:
    importlib.import_module(f"{__name__}.{_family}")

__all__ = ["FAMILIES", "REGISTRY"]
