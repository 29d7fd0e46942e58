"""batch_geocode_spark — a PySpark-native spatial-join + tiling engine.

Brand-new engine with the query/data-processing capabilities of the
reference (GISforHealth/batch_geocode), re-expressed Spark-first:

- broadcast gazetteer join replaces the reference's per-row HTTP loop
  (reference: geocode/query_funcs.py:342-349, one blocking GET per row)
- buffer vetting + composite-best as DataFrame aggregates
  (reference: geocode/query_funcs.py:193-219)
- hierarchical geocell index (pure arithmetic, JVM-side SQL expressions)
- point-in-polygon joins via cell-cover prefilter + even-odd ray cast
- kNN candidate matching across gazetteer sources
- raster-tile density aggregation
- snapshot/manifest checkpoint-resume layer

All hot paths are built-in JVM expressions or Arrow-batched pandas UDFs —
no per-row Python anywhere.
"""

__version__ = "0.1.0"
