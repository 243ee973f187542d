"""duckdb_geography_spark — a PySpark-native geography analytics engine.

Re-implements the query surface of the *duckdb-geography* DuckDB
extension (S2 spherical geometry: GEOGRAPHY / S2_CELL types, 50+
functions, spatial-join patterns) idiomatically on Spark, plus the
large-scale data-pipeline operators (dedup, similarity search, text
analysis) a 100 TB training-data pipeline needs.

Design (SURVEY.md):
- cell ops are pure Spark Column bit expressions (JVM, codegen);
- geography values are a tagged binary encoding with an embedded cell
  covering, processed by Arrow-batched pandas UDFs;
- spatial joins are shuffle-friendly covering equi-joins / cell range
  joins rather than nested-loop predicates.
"""

from __future__ import annotations

from . import _zipguard

__version__ = "0.1.0"

_zipguard.install()


def __getattr__(name):
    # lazy GeoCol export (the fluent `geo()` helper must be imported
    # from .fluent — the bare name collides with the geo subpackage)
    if name == "GeoCol":
        from . import fluent

        return fluent.GeoCol
    raise AttributeError(name)
