"""duckdb_ddsketch_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of the cardinalhq/duckdb-ddsketch DuckDB
extension, re-designed Spark-first.

Layers:

* :mod:`~duckdb_ddsketch_spark.codec` / :mod:`~duckdb_ddsketch_spark.sketch`
  — pure-Python DDSketch kernel + DataDog wire codec (BLOB-compatible with
  the reference and with DataDog agents).
* :mod:`~duckdb_ddsketch_spark.functions` — the 12 SQL functions of the
  reference (scalar UDFs + aggregates), registered on a SparkSession so both
  the DataFrame and ``spark.sql`` surfaces work.
* :mod:`~duckdb_ddsketch_spark.operators` — the scale path: native
  (JVM-side, codegen-friendly) sketch construction and quantile extraction,
  plus large-scale training-data operators (dedup, similarity search, text
  analysis, multimodal plumbing).
* :mod:`~duckdb_ddsketch_spark.sources` / :mod:`~duckdb_ddsketch_spark.streaming`
  — IO helpers and Structured Streaming sketch windows.
"""

from . import _zipcache
from .sketch import DDSketch, SketchMergeError, DEFAULT_RELATIVE_ACCURACY

# in a Python worker running a task, stop the per-task zip re-reads
_zipcache.install()

__version__ = "0.1.0"

__all__ = [
    "DDSketch",
    "SketchMergeError",
    "DEFAULT_RELATIVE_ACCURACY",
    "register_ddsketch_functions",
]


def register_ddsketch_functions(spark):
    """Register every ddsketch_* SQL function on the session (the Spark
    equivalent of the reference extension's init, lib.rs:1047-1111)."""
    from .functions.registry import register_all

    return register_all(spark)
