"""hive-reflex-spark: a PySpark-native analytics engine.

A ground-up re-expression of the query/data-processing capabilities of the
reference stack (sossossal/hive-reflex, a CIM edge-AI toolchain) as an
idiomatic Spark DataFrame/SQL/Structured-Streaming library, plus the
standard relational surface and large-scale training-data-pipeline
operators (dedup, similarity search, text analysis).

Layout
------
- ``session``    : SparkSession builder pinned for determinism + local perf
- ``io``         : table loaders for the driver-generated parquet fixtures
- ``registry``   : query/oracle registration (the driver-checked surface)
- ``operators/`` : relational, tensor, dedup, text, similarity, timeseries
- ``functions/`` : reusable column-expression builders (quantize, activations…)
- ``plans/``     : compiler-pass analogs (liveness, islands, layout) as DF transforms
- ``streaming/`` : Structured Streaming ops (windows, sessionization, stateful)
"""

from hive_reflex_spark.session import get_spark
from hive_reflex_spark.registry import QUERIES, ORACLES, query

__all__ = ["get_spark", "QUERIES", "ORACLES", "query"]
__version__ = "0.1.0"

