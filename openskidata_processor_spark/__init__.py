"""openskidata_processor_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the reference pipeline ``russellporter/openskidata-processor``
(studied read-only at /root/reference; see SURVEY.md for the operator
inventory).  Architecture is idiomatic PySpark: declarative DataFrame plans
optimized by Catalyst, geometry as a numpy/pandas-UDF kernel, spatial joins as
grid-bucketed equi-joins, graph operators (run-topology normalization,
ski-area clustering) as a partition-local union-find with one link shuffle.

Subpackages
-----------
sources    : table/GeoJSON readers (bronze ingest)
functions  : column-level function library (OSM tags, geometry, text, vectors)
operators  : reusable DataFrame macros (spatial join, top-k, dedup, sessionize)
plans      : the analytics query catalog run by the correctness harness
streaming  : Structured Streaming operators
pipeline   : the domain ETL (formatters, normalization, clustering, statistics)
"""

__version__ = "0.1.0"
