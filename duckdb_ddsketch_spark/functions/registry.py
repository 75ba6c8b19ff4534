"""Session registration — the Spark analogue of the extension entry point.

The reference registers 12 functions on extension load (lib.rs:1047-1111);
here ``register_all(spark)`` makes every ddsketch_* function available to
``spark.sql`` as well as the DataFrame API. Registration is idempotent.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from . import scalar
from .aggregate import ddsketch_agg, ddsketch_stats_agg

_FUNCTIONS = {
    "ddsketch_empty": scalar.ddsketch_empty,  # SQL form of ddsketch_create
    "ddsketch_add": scalar.ddsketch_add,
    "ddsketch_merge": scalar.ddsketch_merge,
    "ddsketch_quantile": scalar.ddsketch_quantile,
    "ddsketch_quantiles": scalar.ddsketch_quantiles,
    "ddsketch_cdf": scalar.ddsketch_cdf,
    "ddsketch_trimmed_mean": scalar.ddsketch_trimmed_mean,
    "ddsketch_downsample": scalar.ddsketch_downsample,
    "ddsketch_count": scalar.ddsketch_count,
    "ddsketch_min": scalar.ddsketch_min,
    "ddsketch_max": scalar.ddsketch_max,
    "ddsketch_sum": scalar.ddsketch_sum,
    "ddsketch_avg": scalar.ddsketch_avg,
    "ddsketch_stats": scalar.ddsketch_stats,
    "ddsketch_stats_full": scalar.ddsketch_stats_full,  # stats_agg's struct, one blob
    "ddsketch_prepare": scalar.ddsketch_prepare_sql,  # one-value sketch(v, alpha)
    "ddsketch_agg": ddsketch_agg,
    "ddsketch_stats_agg": ddsketch_stats_agg,
}


class _DDSketchCreate:
    """Python UDTF behind `SELECT * FROM ddsketch_create(α)` — the
    reference's table-function constructor VERBATIM (src/lib.rs:53-113):
    one row, one `sketch BLOB/BINARY` column holding the empty sketch's
    wire bytes; the relative-accuracy parameter is optional and defaults
    to 0.01 (lib.rs:72-78). A one-row constructor has no performance
    surface; arrow stays ON anyway so the physical node is
    ArrowEvalPythonUDTF and the registry-wide no-BatchEvalPython plan
    guard (test_plans) holds with no carve-out. Closes what was
    permanent deviation #1 now that the repo runs PySpark 4 (UDTF
    registration is Spark 3.5+). An accuracy outside (0, 1) yields a NULL
    sketch, as ``ddsketch_empty`` does."""

    def eval(self, relative_accuracy: float = None):  # noqa: D102
        from ..sketch import DDSketch, DEFAULT_RELATIVE_ACCURACY

        alpha = (
            DEFAULT_RELATIVE_ACCURACY
            if relative_accuracy is None
            else float(relative_accuracy)
        )
        try:
            blob = DDSketch(alpha).encode()
        except ValueError:
            blob = None
        yield (blob,)


def register_all(spark: SparkSession) -> SparkSession:
    for name, fn in _FUNCTIONS.items():
        spark.udf.register(name, fn)
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import BinaryType

    from ..sketch import DDSketch, DEFAULT_RELATIVE_ACCURACY

    # the reference's table-function form `SELECT * FROM
    # ddsketch_create(α)` (lib.rs:53-113) — scalar and table functions
    # live in separate Spark registries, so the same name also keeps a
    # 0-parameter SCALAR registration for expression positions
    # (`SELECT ddsketch_create()`), where Arrow UDFs can't go because
    # they need an input column.
    spark.udtf.register(
        "ddsketch_create",
        udtf(_DDSketchCreate, returnType="sketch binary", useArrow=True),
    )
    spark.udf.register(
        "ddsketch_create",
        lambda: DDSketch(DEFAULT_RELATIVE_ACCURACY).encode(),
        BinaryType(),
    )
    # Spark rejects FILTER and DISTINCT on Python UDAFs; the session's
    # spark.sql folds FILTER into the aggregate input and names the
    # function in the DISTINCT error (see rewrite.py)
    from .rewrite import install_sql_rewrite

    install_sql_rewrite(spark)
    return spark
