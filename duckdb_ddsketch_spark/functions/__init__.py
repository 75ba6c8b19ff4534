"""SQL function surface: the 12 functions of the reference extension.

Parity ("blob") path: Arrow UDFs over DataDog wire bytes —
the Spark analogue of the reference's vectorized scalar functions and C-API
aggregates. The scale path lives in :mod:`duckdb_ddsketch_spark.operators.native`.
"""

from .scalar import (
    ddsketch_create,
    ddsketch_empty,
    ddsketch_add,
    ddsketch_merge,
    ddsketch_quantile,
    ddsketch_quantiles,
    ddsketch_count,
    ddsketch_min,
    ddsketch_max,
    ddsketch_sum,
    ddsketch_avg,
    ddsketch_stats,
    ddsketch_stats_full,
    ddsketch_prepare,
)
from .aggregate import ddsketch_agg, ddsketch_stats_agg, sketch_values_agg
from .registry import register_all
from .rewrite import rewrite_stats_agg, install_sql_rewrite

__all__ = [
    "ddsketch_create",
    "ddsketch_empty",
    "ddsketch_add",
    "ddsketch_merge",
    "ddsketch_quantile",
    "ddsketch_quantiles",
    "ddsketch_count",
    "ddsketch_min",
    "ddsketch_max",
    "ddsketch_sum",
    "ddsketch_avg",
    "ddsketch_stats",
    "ddsketch_stats_full",
    "ddsketch_prepare",
    "ddsketch_agg",
    "ddsketch_stats_agg",
    "sketch_values_agg",
    "register_all",
    "rewrite_stats_agg",
    "install_sql_rewrite",
]
