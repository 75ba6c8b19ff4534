"""Native (JVM-side) DDSketch path — the 100 TB design.

The reference's per-row decode/encode cost (README.md:236-237) and the
pandas-UDF aggregate's missing partial aggregation both disappear when the
sketch math is expressed as Catalyst expressions over raw values:

* ``value_to_bin`` is ``CEIL(LN(v)/LN(gamma))`` (datadog_encoding.rs:750-753)
  — whole-stage-codegen'd, vectorized, pushdown-friendly;
* sketching is then ``groupBy(keys, sign, bin).count()`` — Spark's hash
  aggregate applies **map-side partial aggregation**, so the shuffle carries
  one row per (key, bin) per map task (a few hundred rows) regardless of
  input row count;
* quantiles are cumulative-count selection over the binned rows
  (datadog_encoding.rs:651-703, Go-exact: ``rank = q*(count-1)``, strict
  ``cumulative > rank``, negative store searched under a reversed rank);
* stats mirror decode-side reconstruction (count exact; sum/min/max from
  bins, datadog_encoding.rs:444-494) so native results equal what the blob
  path observes after any wire round-trip.

The native *working form* is a struct column
``(gamma, index_offset, pos MAP<INT,DOUBLE>, neg MAP<INT,DOUBLE>, zero_count,
count, sum, min, max)`` mirroring datadog_encoding.rs:225-244; wire bytes are
produced/consumed only at boundaries via a pandas UDF codec hop.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    MapType,
    StructField,
    StructType,
)

from ..sketch import DDSketch, DEFAULT_RELATIVE_ACCURACY

__all__ = [
    "gamma_of",
    "value_to_bin_expr",
    "bin_to_value_expr",
    "binned_counts",
    "sketch_quantile_agg",
    "sketch_quantile_agg_multi",
    "trailing_sketch_quantile_agg",
    "percentile_bins",
    "percentile_lookup",
    "percentile_rank",
    "quantile_normalize",
    "sketch_range_bucket",
    "sketch_struct_agg",
    "struct_quantile",
    "struct_cdf_sql",
    "struct_trimmed_mean_sql",
    "struct_histogram",
    "struct_count",
    "struct_sum",
    "struct_to_wire",
    "wire_to_struct",
    "merge_struct_sketches",
    "SKETCH_STRUCT_SCHEMA",
]

SKETCH_STRUCT_SCHEMA = StructType(
    [
        StructField("gamma", DoubleType()),
        StructField("index_offset", DoubleType()),
        StructField("pos", MapType(IntegerType(), DoubleType())),
        StructField("neg", MapType(IntegerType(), DoubleType())),
        StructField("zero_count", DoubleType()),
        StructField("count", DoubleType()),
        StructField("sum", DoubleType()),
        StructField("min", DoubleType()),
        StructField("max", DoubleType()),
    ]
)


def gamma_of(alpha: float = DEFAULT_RELATIVE_ACCURACY) -> float:
    return 1.0 + 2.0 * alpha / (1.0 - alpha)


def value_to_bin_expr(value: Column, gamma: float) -> Column:
    """``ceil(ln(v)/ln(gamma))`` for v>0 (caller routes sign classes)."""
    return F.ceil(F.log(value) / F.lit(math.log(gamma))).cast("int")


def bin_to_value_expr(bin_col: Column, gamma: float) -> Column:
    """``gamma^i * (1 + (1 - 2/(1+gamma)))`` — bin representative value."""
    eta = 1.0 - 2.0 / (1.0 + gamma)
    return F.pow(F.lit(gamma), bin_col.cast("double")) * F.lit(1.0 + eta)


def binned_counts(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    alpha: float = DEFAULT_RELATIVE_ACCURACY,
    weight: Optional[str] = None,
) -> DataFrame:
    """Stage 1 of every native sketch op: per-(key, sign-class, bin) counts.

    This is the shuffle-minimizing core: the hash aggregate partially
    aggregates map-side, so at 100 TB the shuffle moves |keys|x|bins| rows
    per map task, not the input rows. NULL values are skipped (the aggregate
    NULL-skip semantics, lib.rs:1024); weights <= 0 are ignored
    (datadog_encoding.rs:724-726).
    """
    return df.sparkSession.sql(
        _binned_sql(keys, value, alpha, weight, from_clause="{df}"), df=df
    )


_DBL_MAX = "1.7976931348623157E308D"


def _sign_sql(v: str) -> str:
    """Sign-class SQL shared by the build (:func:`_binned_sql`) and probe
    (:func:`percentile_lookup`) sides — the two must stay byte-identical
    or probe bins silently stop matching calibration bins."""
    return f"CASE WHEN {v} > 0 THEN 1 WHEN {v} < 0 THEN -1 ELSE 0 END"


def _bin_sql(v: str, lg: str) -> str:
    """Guarded ``ceil(ln(|v|)/ln(gamma))`` bin SQL (NULL for zero and for
    non-finite values). The finite guards matter on the PROBE side, where
    no WHERE clause pre-filters rows: under ANSI mode ``CAST(CEIL(LN(inf)
    ...) AS INT)`` overflows and one malformed row would fail the whole
    job (NaN compares greater than everything in both engines, so it
    falls through both branches to NULL)."""
    return (
        f"CASE WHEN {v} > 0 AND {v} <= {_DBL_MAX}"
        f" THEN CAST(CEIL(LN({v}) / {lg}) AS INT)"
        f" WHEN {v} < 0 AND {v} >= -{_DBL_MAX}"
        f" THEN CAST(CEIL(LN(-{v}) / {lg}) AS INT) END"
    )


def _binned_sql(
    keys: Sequence[str],
    value: str,
    alpha: float,
    weight: Optional[str],
    from_clause: str,
) -> str:
    """SQL text of the binned aggregate over ``from_clause``.

    The whole native path is assembled as SQL text and run through ONE
    ``spark.sql`` call per operator: building these plans from Column
    objects costs hundreds of py4j round-trips, and every intermediate
    DataFrame transformation adds an eager-analysis pass (~25 ms each).
    """
    keys = list(keys)
    gamma = gamma_of(alpha)
    v = f"`{value}`"
    lg = repr(math.log(gamma)) + "D"
    # BETWEEN +-DBL_MAX excludes NaN and +-inf identically in Spark and
    # DuckDB (both order NaN above +inf), matching the kernel's
    # skip-non-finite rule; without it, ANSI CAST(inf AS INT) throws.
    cond = (
        f"{v} IS NOT NULL AND {v} BETWEEN -{_DBL_MAX} AND {_DBL_MAX}"
    )
    if weight is not None:
        cond += f" AND `{weight}` > 0"
    w = f"CAST(`{weight}` AS DOUBLE)" if weight is not None else "1.0D"
    kq = ", ".join(f"`{k}`" for k in keys)
    kq_pre = f"{kq}, " if keys else ""
    return (
        f"SELECT {kq_pre}sign, bin, sum(w) AS cnt, sum(v * w) AS vsum,"
        " min(v) AS vmin, max(v) AS vmax"
        f" FROM (SELECT {kq_pre}"
        f" {_sign_sql(v)} AS sign,"
        f" {_bin_sql(v, lg)} AS bin,"
        f" {w} AS w, CAST({v} AS DOUBLE) AS v"
        f" FROM {from_clause} WHERE {cond})"
        f" GROUP BY {kq_pre}sign, bin"
    )


def sketch_quantile_agg(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    alpha: float = DEFAULT_RELATIVE_ACCURACY,
    quantiles: Sequence[float] = (0.25, 0.50, 0.75, 0.90, 0.95, 0.99),
    weight: Optional[str] = None,
    exact_stats: bool = False,
    rollup: "bool | str" = False,
    _binned_override: Optional[str] = None,
) -> DataFrame:
    """Per-group DDSketch stats + quantiles, fully native.

    Returns ``keys + [count, sum, avg, min, max, p<q>...]`` with *sketch
    semantics*: count exact; sum/min/max/avg reconstructed from bins exactly
    as a decoded wire sketch would report them (datadog_encoding.rs:429-494);
    quantiles Go-exact. With ``exact_stats=True``, sum/min/max/avg are the
    exact column stats instead (pre-serialization in-memory semantics).

    Physical plan: two hash aggregates, both with map-side partial
    aggregation — binned counts, then per-key bin maps — followed by a pure
    projection that computes every stat and quantile as fold expressions over
    the (tiny, sorted) maps. 2 exchanges, no sorts, no windows, no Python.
    (A windowed cumulative-count formulation gives the same results but adds
    two sort+window operators per query; the fold over collected maps wins
    because per-key bin counts are bounded ~O(100) by the log mapping.)

    Expressions are assembled as SQL strings parsed once per output column:
    building this query from nested Column operations costs hundreds of py4j
    round-trips (~1 s of driver latency per call); the string form costs ~30.

    With ``rollup=True`` (or ``rollup="cube"``) the result carries every
    ROLLUP/CUBE(*keys) level plus a ``gid`` column
    (``grouping(k0)*2^(n-1) + ... + grouping(kn-1)``, i.e. 0 = finest
    level, all-ones = grand total; rolled-up keys are NULL). The coarser
    levels are produced by a GROUPING-SETS re-aggregation of the *already
    binned* counts — the Expand operator multiplies ~|keys x bins|
    pre-aggregated rows, never the raw input — so a full hypertable-style
    rollup costs one extra exchange over the finest-grain aggregate no
    matter the input size.
    """
    keys = list(keys)
    gamma = gamma_of(alpha)

    g = repr(gamma) + "D"
    mult = repr(1.0 + (1.0 - 2.0 / (1.0 + gamma))) + "D"

    def b2v(e: str) -> str:
        return f"(POWER({g}, CAST({e} AS DOUBLE)) * {mult})"

    def entries_sum(arr: str) -> str:
        # fold over sorted entries: matches the kernel's sorted-order
        # summation (float32 output casts absorb order-level ulps anyway)
        return (
            f"coalesce(aggregate({arr}, 0.0D,"
            f" (acc, e) -> acc + {b2v('e.key')} * e.value), 0.0D)"
        )

    # entry arrays are sorted by bin, so extreme keys are the ends
    # (element_at guarded for ANSI mode's out-of-bounds error)
    def lo_key(arr: str) -> str:
        return f"(CASE WHEN size({arr}) > 0 THEN element_at({arr}, 1).key END)"

    def hi_key(arr: str) -> str:
        return f"(CASE WHEN size({arr}) > 0 THEN element_at({arr}, -1).key END)"

    out_cols = [f"`{k}`" for k in keys]
    out_cols.append("CAST(cnt AS BIGINT) AS count")
    if exact_stats:
        sum_sql = "sm"
        min_sql = "mn"
        max_sql = "mx"
    else:
        sum_sql = f"({entries_sum('pe')} - {entries_sum('ne')})"
        # decode-side min/max reconstruction (datadog_encoding.rs:464-494):
        # min candidates: most-negative bin, zero, lowest positive bin
        min_sql = (
            f"least(-{b2v(hi_key('ne'))},"
            " CASE WHEN zc > 0 THEN 0.0D END,"
            f" {b2v(lo_key('pe'))})"
        )
        max_sql = (
            f"greatest({b2v(hi_key('pe'))},"
            " CASE WHEN zc > 0 THEN 0.0D END,"
            f" -{b2v(lo_key('ne'))})"
        )
    out_cols.append(f"{sum_sql} AS sum")
    out_cols.append(f"{sum_sql} / cnt AS avg")
    out_cols.append(f"{min_sql} AS min")
    out_cols.append(f"{max_sql} AS max")
    for q in quantiles:
        out_cols.append(
            f"{_quantile_fold_sql(q, 'pe', 'ne', 'zc', 'cnt', g, mult)}"
            f" AS p{_qname(q)}"
        )
    # grouped level: sorted (bin, cnt) entry ARRAYS per sign class — no
    # map/struct assembly; the stat/quantile folds below run on the arrays
    # directly, which keeps the analyzed expression tree small.
    entry = "struct(bin AS key, cnt AS value)"
    # _binned_override: internal hook for operators (trailing windows) that
    # transform the binned counts before quantile selection; must yield
    # (keys..., sign, bin, cnt, vsum, vmin, vmax) and may reference {df}.
    binned = _binned_override or _binned_sql(
        keys, value, alpha, weight, from_clause="{df}"
    )
    if rollup:
        if not keys:
            raise ValueError("rollup requires at least one group key")
        grouping_op = "CUBE" if str(rollup).lower() == "cube" else "ROLLUP"
        kq0 = ", ".join(f"`{k}`" for k in keys)
        gid = " + ".join(
            f"grouping(`{k}`) * {1 << (len(keys) - 1 - i)}"
            for i, k in enumerate(keys)
        )
        binned = (
            f"SELECT {kq0}, CAST({gid} AS INT) AS gid, sign, bin,"
            " sum(cnt) AS cnt, sum(vsum) AS vsum,"
            " min(vmin) AS vmin, max(vmax) AS vmax"
            f" FROM ({binned}) GROUP BY sign, bin, {grouping_op}({kq0})"
        )
        keys = keys + ["gid"]
        out_cols.insert(len(keys) - 1, "`gid`")
    kq = ", ".join(f"`{k}`" for k in keys)
    kq_pre = f"{kq}, " if keys else ""
    group_by = f" GROUP BY {kq}" if keys else ""
    inner = (
        f"SELECT {kq_pre}"
        f"sort_array(collect_list(CASE WHEN sign = 1 THEN {entry} END)) AS pe,"
        f" sort_array(collect_list(CASE WHEN sign = -1 THEN {entry} END)) AS ne,"
        " sum(CASE WHEN sign = 0 THEN cnt ELSE 0.0D END) AS zc,"
        " sum(cnt) AS cnt, sum(vsum) AS sm, min(vmin) AS mn, max(vmax) AS mx"
        f" FROM ({binned}){group_by}"
    )
    return df.sparkSession.sql(
        f"SELECT {', '.join(out_cols)} FROM ({inner})", df=df
    )


def _quantile_fold_sql(
    q: float, pos: str, neg: str, zero: str, count: str, gamma: str, mult: str
) -> str:
    """Go-exact quantile as one SQL fold — the single home of the rule.

    ``pos``/``neg`` are arrays of (key=bin, value=count) entries sorted by
    bin; ``zero``, ``count``, ``gamma`` and ``mult`` (the bin-representative
    multiplier) are scalars — all given as SQL text. ``rank = q*(count-1)``;
    the selected bin is the first whose cumulative count is strictly greater
    than the rank, with the negative store searched under a reversed rank
    (datadog_encoding.rs:651-703). ``aggregate`` carries (cumulative,
    selected-bin) over the entries — no Python, no explode, no shuffle.
    """
    if q < 0.0 or q > 1.0:
        return "CAST(NULL AS DOUBLE)"
    rank = f"({float(q)!r}D * ({count} - 1.0D))"
    negc = f"coalesce(aggregate({neg}, 0.0D, (acc, x) -> acc + x.value), 0.0D)"

    def key_at_rank(arr: str, target: str) -> str:
        folded_sel = (
            f"aggregate({arr},"
            " struct(0.0D AS cum, CAST(NULL AS INT) AS sel),"
            " (acc, e) -> struct(acc.cum + e.value AS cum,"
            " CASE WHEN acc.sel IS NOT NULL THEN acc.sel"
            f" WHEN acc.cum + e.value > greatest({target}, 0.0D) THEN e.key END AS sel)"
            ").sel"
        )
        sel = (
            f"coalesce({folded_sel},"
            f" CASE WHEN size({arr}) > 0 THEN element_at({arr}, -1).key END)"
        )
        return f"(POWER({gamma}, CAST({sel} AS DOUBLE)) * {mult})"

    return (
        f"CASE WHEN {count} <= 0 THEN CAST(NULL AS DOUBLE)"
        f" WHEN {rank} < {negc}"
        f" THEN -{key_at_rank(neg, f'{negc} - 1.0D - {rank}')}"
        f" WHEN {rank} < {negc} + {zero} THEN 0.0D"
        f" ELSE {key_at_rank(pos, f'{rank} - {zero} - {negc}')} END"
    )


def _qname(q: float) -> str:
    """0.5 -> '50', 0.99 -> '99', 0.999 -> '99_9', 1.0 -> '100'."""
    return f"{q * 100:g}".replace(".", "_")


def sketch_quantile_agg_multi(
    df: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    alpha: float = DEFAULT_RELATIVE_ACCURACY,
    quantiles: Sequence[float] = (0.5, 0.95, 0.99),
    metric_col: str = "metric",
) -> DataFrame:
    """One-pass sketch quantiles for N metric columns at once.

    Unpivots the value columns with ``stack`` (a Generate node — no
    shuffle, no extra scan) so one binned aggregate keyed by
    ``keys + [metric]`` covers every metric: one scan and one shuffle for N
    metrics instead of N of each. Output rows are
    ``(keys..., metric, count, sum, avg, min, max, p<q>...)``.
    """
    keys = list(keys)
    values = list(values)
    if not values:
        raise ValueError("values must name at least one column")
    stack_args = ", ".join(f"'{v}', CAST(`{v}` AS DOUBLE)" for v in values)
    unpivoted = df.selectExpr(
        *[f"`{k}`" for k in keys],
        f"stack({len(values)}, {stack_args}) AS (`{metric_col}`, `_metric_value`)",
    )
    return sketch_quantile_agg(
        unpivoted, keys + [metric_col], "_metric_value", alpha, quantiles
    )


def trailing_sketch_quantile_agg(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    order_col: str,
    trailing: int = 7,
    alpha: float = DEFAULT_RELATIVE_ACCURACY,
    quantiles: Sequence[float] = (0.5, 0.99),
    weight: Optional[str] = None,
    exact_stats: bool = False,
) -> DataFrame:
    """Trailing-window sketch quantiles: for every (keys, order) point
    present in the input, the DDSketch stats over the last ``trailing``
    order units (e.g. 7-day trailing p99 per day — the SLO-dashboard shape).

    ``order_col`` must be integral (an epoch-day / bucket-index column).

    Scale shape: the raw input is binned ONCE (map-side partial
    aggregation); each pre-binned row then explodes to the ``trailing``
    output points it contributes to and re-aggregates, so shuffle volume is
    ``|keys x bins x trailing|`` — independent of input row count. A
    windowed formulation (SUM OVER ... RANGE PRECEDING) would undercount
    instead: window frames only see *existing* (order, bin) rows, so a bin
    with no row on some day would silently drop out of that day's trailing
    sketch. Output points with no events of their own are excluded via a
    left-semi join against the distinct input points.
    """
    keys = list(keys)
    if trailing < 1:
        raise ValueError("trailing must be >= 1")
    o = f"`{order_col}`"
    kq_pre = "".join(f"`{k}`, " for k in keys)
    base = _binned_sql(keys + [order_col], value, alpha, weight, "{df}")
    expanded = (
        f"SELECT {kq_pre}_w.out_o AS {o}, sign, bin, cnt, vsum, vmin, vmax"
        f" FROM ({base})"
        f" LATERAL VIEW explode(sequence({o}, {o} + {trailing - 1})) _w AS out_o"
    )
    trail = (
        f"SELECT {kq_pre}{o}, sign, bin, sum(cnt) AS cnt, sum(vsum) AS vsum,"
        " min(vmin) AS vmin, max(vmax) AS vmax"
        f" FROM ({expanded}) GROUP BY {kq_pre}{o}, sign, bin"
    )
    on = " AND ".join(
        f"t.`{c}` <=> d.`{c}`" for c in keys + [order_col]
    )
    gated = (
        f"SELECT t.* FROM ({trail}) t LEFT SEMI JOIN"
        f" (SELECT DISTINCT {kq_pre}{o} FROM ({base})) d ON {on}"
    )
    return sketch_quantile_agg(
        df,
        keys + [order_col],
        value,
        alpha,
        quantiles,
        weight,
        exact_stats,
        _binned_override=gated,
    )


# ---------------------------------------------------------------------------
# Native struct working form
# ---------------------------------------------------------------------------


def sketch_struct_agg(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    alpha: float = DEFAULT_RELATIVE_ACCURACY,
    weight: Optional[str] = None,
) -> DataFrame:
    """Build the native struct sketch per group: keys + ``sketch`` struct.

    Exact in-memory semantics (sum/min/max exact, like a fresh in-memory
    sketch before any serialization). One shuffled hash aggregate for the
    bins, one for assembly — both clustered on ``keys``.
    """
    return df.sparkSession.sql(
        _struct_agg_sql(keys, value, alpha, weight, from_clause="{df}"), df=df
    )


def _struct_agg_sql(
    keys: Sequence[str],
    value: str,
    alpha: float,
    weight: Optional[str],
    from_clause: str,
) -> str:
    """SQL text of :func:`sketch_struct_agg` (one parse/analysis pass)."""
    keys = list(keys)
    gamma = gamma_of(alpha)
    entry = "struct(bin AS key, cnt AS value)"
    kq = ", ".join(f"`{k}`" for k in keys)
    kq_pre = f"{kq}, " if keys else ""
    group_by = f" GROUP BY {kq}" if keys else ""
    binned = _binned_sql(keys, value, alpha, weight, from_clause)
    return (
        f"SELECT {kq_pre}struct({gamma!r}D AS gamma, 0.0D AS index_offset,"
        f" map_from_entries(sort_array(collect_list(CASE WHEN sign = 1 THEN {entry} END))) AS pos,"
        f" map_from_entries(sort_array(collect_list(CASE WHEN sign = -1 THEN {entry} END))) AS neg,"
        " sum(CASE WHEN sign = 0 THEN cnt ELSE 0.0D END) AS zero_count,"
        " sum(cnt) AS count, sum(vsum) AS sum, min(vmin) AS min,"
        " max(vmax) AS max) AS sketch"
        f" FROM ({binned}){group_by}"
    )


def struct_count(sketch: Column) -> Column:
    return sketch["count"].cast("long")


def struct_sum(sketch: Column) -> Column:
    return F.when(sketch["count"] > 0, sketch["sum"])


def struct_quantile_sql(sketch_col: str, q: float) -> str:
    """SQL text of the Go-exact quantile over the native struct form: the
    shared fold (:func:`_quantile_fold_sql`) over its sorted map entries."""
    s = f"`{sketch_col}`"
    return _quantile_fold_sql(
        q,
        f"sort_array(map_entries({s}.pos))",
        f"sort_array(map_entries({s}.neg))",
        f"{s}.zero_count",
        f"{s}.count",
        f"{s}.gamma",
        f"(2.0D - 2.0D / (1.0D + {s}.gamma))",
    )


def struct_quantile(sketch, q: float) -> Column:
    """Go-exact quantile over the native struct form, as a pure expression
    (see :func:`struct_quantile_sql`; column inputs are aliased first)."""
    if isinstance(sketch, str):
        return F.expr(struct_quantile_sql(sketch, q))
    # Column input: give it a stable name via a nested-select-free trick —
    # wrap in a struct alias through expr on the stringified column
    raise TypeError(
        "struct_quantile expects the sketch column *name*; pass the column's "
        "string name so the expression can be assembled as SQL"
    )


def struct_cdf_sql(sketch_col: str, v: float, alpha: Optional[float] = None) -> str:
    """SQL text of the bin-granular CDF (P[x <= v]) over the struct form —
    the native twin of :func:`DDSketch.cdf`. Pure fold, no Python.

    When ``alpha`` is given, the threshold bin is precomputed in Python so
    the JVM's libm never enters the comparison (keeps native, kernel, and
    DuckDB-oracle results on the identical bin even when ln() differs by
    an ulp between runtimes).
    """
    s = f"`{sketch_col}`"
    if v is None or math.isnan(v):
        return "CAST(NULL AS DOUBLE)"

    def bin_of(x: float) -> str:
        if alpha is not None:
            return str(math.ceil(math.log(x) / math.log(gamma_of(alpha))))
        return f"CAST(CEIL(LN({x!r}D) / LN({s}.gamma)) AS INT)"

    negc = f"coalesce(aggregate(map_values({s}.neg), 0.0D, (acc, x) -> acc + x), 0.0D)"
    if v > 0.0:
        b = bin_of(float(v))
        le = (
            f"coalesce(aggregate(map_entries({s}.pos), 0.0D,"
            f" (acc, e) -> acc + CASE WHEN e.key <= {b} THEN e.value ELSE 0.0D END), 0.0D)"
        )
        frac = f"({negc} + {s}.zero_count + {le}) / {s}.count"
    elif v == 0.0:
        frac = f"({negc} + {s}.zero_count) / {s}.count"
    else:
        b = bin_of(float(-v))
        ge = (
            f"coalesce(aggregate(map_entries({s}.neg), 0.0D,"
            f" (acc, e) -> acc + CASE WHEN e.key >= {b} THEN e.value ELSE 0.0D END), 0.0D)"
        )
        frac = f"{ge} / {s}.count"
    return f"CASE WHEN {s}.count > 0 THEN {frac} END"


def struct_trimmed_mean_sql(
    sketch_col: str, q_lo: float = 0.25, q_hi: float = 0.75
) -> str:
    """SQL text of the rank-windowed (trimmed) mean over the struct form —
    the native twin of :func:`DDSketch.trimmed_mean`. One fold over the
    sign-ordered bin array carrying (cumulative, weight, weighted-value):
    no Python, no explode, no shuffle; scale cost is |occupied bins| lambda
    steps per row, input-size independent.
    """
    s = f"`{sketch_col}`"
    if (
        q_lo is None
        or q_hi is None
        or math.isnan(q_lo)
        or math.isnan(q_hi)
        or q_lo < 0.0
        or q_hi > 1.0
        or q_lo >= q_hi
    ):
        return "CAST(NULL AS DOUBLE)"
    mult = f"(2.0D - 2.0D / (1.0D + {s}.gamma))"
    rep = f"(POWER({s}.gamma, CAST(e.key AS DOUBLE)) * {mult})"
    ordered = (
        "concat("
        f" transform(reverse(sort_array(map_entries({s}.neg))),"
        f"  e -> struct(-{rep} AS v, e.value AS c)),"
        f" filter(array(struct(0.0D AS v, {s}.zero_count AS c)), x -> x.c > 0),"
        f" transform(sort_array(map_entries({s}.pos)),"
        f"  e -> struct({rep} AS v, e.value AS c))"
        ")"
    )
    lo = f"({float(q_lo)!r}D * {s}.count)"
    hi = f"({float(q_hi)!r}D * {s}.count)"
    w = f"greatest(least(acc.cum + e.c, {hi}) - greatest(acc.cum, {lo}), 0.0D)"
    folded = (
        f"aggregate({ordered},"
        " struct(0.0D AS cum, 0.0D AS w, 0.0D AS wv),"
        f" (acc, e) -> struct(acc.cum + e.c AS cum, acc.w + {w} AS w,"
        f" acc.wv + {w} * e.v AS wv),"
        " acc -> CASE WHEN acc.w > 0.0D THEN acc.wv / acc.w END)"
    )
    return f"CASE WHEN {s}.count > 0 THEN {folded} END"


def struct_histogram(
    df: DataFrame, keys: Sequence[str], sketch_col: str = "sketch"
) -> DataFrame:
    """Explode a struct sketch into its occupied bins as value ranges.

    Output: keys + (bin_lo, bin_hi, count), one row per occupied bin. Bin i
    of the log mapping covers (gamma^(i-1), gamma^i] for positives
    (datadog_encoding.rs:750-753: bin = ceil(ln v / ln gamma)); negatives
    mirror to [-gamma^i, -gamma^(i-1)); zeros get [0, 0]. Native explode —
    at scale this is a projection + generate, no shuffle, no Python.
    """
    keys = list(keys)
    kq = ", ".join(f"`{k}`" for k in keys)
    kq_pre = f"{kq}, " if keys else ""
    s = f"`{sketch_col}`"
    g = f"{s}.gamma"
    rows = (
        "concat("
        f" transform(map_entries({s}.pos), e -> struct("
        f"  POWER({g}, CAST(e.key AS DOUBLE) - 1.0D) AS bin_lo,"
        f"  POWER({g}, CAST(e.key AS DOUBLE)) AS bin_hi,"
        "   e.value AS count)),"
        f" filter(array(struct(0.0D AS bin_lo, 0.0D AS bin_hi,"
        f"  {s}.zero_count AS count)), x -> {s}.zero_count > 0),"
        f" transform(map_entries({s}.neg), e -> struct("
        f"  -POWER({g}, CAST(e.key AS DOUBLE)) AS bin_lo,"
        f"  -POWER({g}, CAST(e.key AS DOUBLE) - 1.0D) AS bin_hi,"
        "   e.value AS count))"
        ")"
    )
    return df.sparkSession.sql(
        f"SELECT {kq_pre}b.bin_lo AS bin_lo, b.bin_hi AS bin_hi,"
        " b.count AS count"
        f" FROM (SELECT {kq_pre}explode({rows}) AS b FROM {{df}}"
        f" WHERE {s} IS NOT NULL)",
        df=df,
    )


def merge_struct_sketches(
    df: DataFrame, keys: Sequence[str], sketch_col: str = "sketch"
) -> DataFrame:
    """Native groupBy-merge of struct sketches: explode bins → hash aggregate
    (partial agg applies) → reassemble. The scalable analogue of
    ``ddsketch_agg`` for the struct working form."""
    keys = list(keys)
    kq = ", ".join(f"`{k}`" for k in keys)
    kq_pre = f"{kq}, " if keys else ""
    group_by = f" GROUP BY {kq}" if keys else ""
    s = f"`{sketch_col}`"
    # posexplode each sketch's bins; per-sketch scalars ride along attributed
    # to the first exploded row only (coalesce handles bin-less sketches), so
    # a single two-level hash aggregate — with map-side partial aggregation —
    # merges everything. No join. Assembled as ONE SQL statement (one
    # parse/analysis pass instead of four).
    exploded = (
        f"SELECT {kq_pre}"
        f"{s}.gamma AS gamma, {s}.index_offset AS index_offset,"
        f" {s}.zero_count AS zero_count, {s}.count AS count, {s}.sum AS sum,"
        f" {s}.min AS min, {s}.max AS max,"
        " posexplode_outer(concat("
        f" transform(map_entries({s}.pos), e -> struct(1 AS sign, e.key AS bin, e.value AS cnt)),"
        f" transform(map_entries({s}.neg), e -> struct(-1 AS sign, e.key AS bin, e.value AS cnt))"
        ")) AS (pos_idx, bin_entry)"
        " FROM {df}"
    )
    first = "coalesce(pos_idx, 0) = 0"
    level1 = (
        f"SELECT {kq_pre}bin_entry.sign AS sign, bin_entry.bin AS bin,"
        # first(gamma, true): a NULL-struct row (invalid/NULL blob under
        # NULL-skip semantics) must never donate its NULL gamma — without
        # ignoreNulls the pick is evaluation-order-dependent
        " sum(bin_entry.cnt) AS cnt, first(gamma, true) AS gamma,"
        " min(gamma) AS g_min, max(gamma) AS g_max,"
        " min(index_offset) AS o_min, max(index_offset) AS o_max,"
        f" sum(CASE WHEN {first} THEN zero_count END) AS zc,"
        f" sum(CASE WHEN {first} THEN count END) AS cn,"
        f" sum(CASE WHEN {first} THEN sum END) AS sm,"
        f" min(CASE WHEN {first} THEN min END) AS mn,"
        f" max(CASE WHEN {first} THEN max END) AS mx"
        f" FROM ({exploded})"
        f" GROUP BY {kq_pre}bin_entry.sign, bin_entry.bin"
    )
    entry = "struct(bin AS key, cnt AS value)"
    merged = (
        f"SELECT {kq_pre}"
        f"map_from_entries(sort_array(collect_list(CASE WHEN sign = 1 THEN {entry} END))) AS pos,"
        f" map_from_entries(sort_array(collect_list(CASE WHEN sign = -1 THEN {entry} END))) AS neg,"
        " first(gamma, true) AS gamma, min(g_min) AS g_min, max(g_max) AS g_max,"
        " min(o_min) AS o_min, max(o_max) AS o_max,"
        " sum(zc) AS zero_count, sum(cn) AS count, sum(sm) AS sum,"
        " min(mn) AS min, max(mx) AS max"
        f" FROM ({level1}){group_by}"
    )
    # Merge compatibility gate, mirroring the reference (equal gamma and
    # index_offset within 1e-10, datadog_encoding.rs:598-607): a group whose
    # sketches disagree on the mapping cannot be merged bin-wise, so its
    # merged sketch is NULL (the SQL layer's mismatch semantics, lib.rs:241-243)
    # rather than a silent sum over incompatible bins.
    compatible = (
        "(g_max - g_min) <= 1e-10 AND (o_max - o_min) <= 1e-10"
        " AND g_min IS NOT NULL"
    )
    return df.sparkSession.sql(
        f"SELECT {kq_pre}CASE WHEN {compatible} THEN"
        " struct(gamma, coalesce(o_min, 0.0D) AS index_offset, pos, neg,"
        " zero_count, count, sum, min, max)"
        f" END AS {sketch_col} FROM ({merged})",
        df=df,
    )


# ---------------------------------------------------------------------------
# Wire boundary (the only Python hop in the native pipeline)
# ---------------------------------------------------------------------------


@pandas_udf(BinaryType())
def _struct_to_wire(rows: pd.DataFrame) -> pd.Series:
    out = []
    for row in rows.to_dict("records"):
        # pandas renders a NULL struct (and NULL numeric fields) as NaN, not
        # None — pd.isna catches both so a NULL sketch encodes as NULL
        # instead of a garbage NaN-gamma sketch.
        if row is None or pd.isna(row.get("count")) or pd.isna(row.get("gamma")):
            out.append(None)
            continue
        s = DDSketch.__new__(DDSketch)
        s.gamma = float(row["gamma"])
        s.index_offset = float(row["index_offset"])
        pos, neg = row.get("pos"), row.get("neg")
        s.positive_bins = dict(pos) if isinstance(pos, dict) else {}
        s.negative_bins = dict(neg) if isinstance(neg, dict) else {}
        s.zero_count = 0.0 if pd.isna(row.get("zero_count")) else float(row["zero_count"])
        s.count = float(row["count"])
        s.sum = 0.0 if pd.isna(row.get("sum")) else float(row["sum"])
        s.min = math.inf if pd.isna(row.get("min")) else float(row["min"])
        s.max = -math.inf if pd.isna(row.get("max")) else float(row["max"])
        out.append(s.encode())
    return pd.Series(out, dtype=object)


def struct_to_wire(sketch_col) -> Column:
    """Encode the native struct form to DataDog wire bytes (sink boundary)."""
    if isinstance(sketch_col, str):
        sketch_col = F.col(sketch_col)
    return _struct_to_wire(sketch_col)


@pandas_udf(SKETCH_STRUCT_SCHEMA)
def _wire_to_struct(blobs: pd.Series) -> pd.DataFrame:
    rows = []
    cols = [f.name for f in SKETCH_STRUCT_SCHEMA.fields]
    for blob in blobs:
        if blob is None:
            rows.append((None,) * len(cols))
            continue
        try:
            s = DDSketch.decode(bytes(blob))
        except Exception:
            rows.append((None,) * len(cols))
            continue
        rows.append(
            (
                s.gamma,
                s.index_offset,
                {int(k): float(v) for k, v in s.positive_bins.items()},
                {int(k): float(v) for k, v in s.negative_bins.items()},
                s.zero_count,
                s.count,
                s.sum,
                s.min if math.isfinite(s.min) else None,
                s.max if math.isfinite(s.max) else None,
            )
        )
    return pd.DataFrame(rows, columns=cols)


def wire_to_struct(blob_col) -> Column:
    """Decode wire bytes into the native struct form (source boundary)."""
    if isinstance(blob_col, str):
        blob_col = F.col(blob_col)
    return _wire_to_struct(blob_col)


def sketch_range_bucket(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    alpha: float = DEFAULT_RELATIVE_ACCURACY,
    quantiles: Sequence[float] = (0.25, 0.5, 0.75),
    bucket_col: str = "bucket",
) -> DataFrame:
    """Tag every row with its quantile bucket (sketch-driven range
    partitioning): bucket k means ``p_{k-1} < v <= p_k`` with boundaries
    from the group's DDSketch quantiles.

    This is the scale pattern behind approximate range-partitioning and
    ntile-without-a-sort: ONE cheap pass builds the (tiny) per-group
    boundary table via the native sketch aggregate, which broadcasts back
    onto the stream — no global sort, no window over the full data, and
    the second pass is map-only. Appends ``bucket_col`` (0-based INT).
    """
    keys = list(keys)
    qs = sorted(quantiles)
    bounds = sketch_quantile_agg(df, keys, value, alpha, qs)
    bcols = [f"p{_qname(q)}" for q in qs]
    bounds = bounds.select(*keys, *bcols)
    joined = df.join(F.broadcast(bounds), keys, "left")
    bucket = f"CASE WHEN `{value}` IS NULL THEN NULL "
    for i, b in enumerate(bcols):
        bucket += f"WHEN `{value}` <= `{b}` THEN {i} "
    bucket += f"ELSE {len(bcols)} END"
    out = joined.withColumn(bucket_col, F.expr(f"CAST({bucket} AS INT)"))
    return out.drop(*bcols)


# column names the percentile machinery generates internally: a key with
# one of these names would alias-collide inside the assembled SQL
_PCT_RESERVED = frozenset(
    {"sign", "bin", "le", "total", "gamma", "cnt", "w", "v",
     "vsum", "vmin", "vmax", "tag", "f", "rv", "qv"}
)


def _check_pct_keys(keys: Sequence[str]) -> None:
    # case-insensitive: Spark resolves columns case-insensitively by
    # default, so 'Total' collides with the generated `total` alias too
    bad = sorted(k for k in set(keys) if k.lower() in _PCT_RESERVED)
    if bad:
        raise ValueError(
            f"key column(s) {bad} collide with the percentile machinery's"
            f" internal names {sorted(_PCT_RESERVED)}; rename them first"
        )


def _cum_bins_sql(keys: Sequence[str], gamma: float, from_clause: str) -> str:
    """Window cumsum turning a (keys, sign, bin, cnt) table into the
    cumulative (keys, sign, bin, le, total, gamma) calibration shape.
    Total order of bins by represented value: negatives (bin DESC),
    zero, positives (bin ASC) -> the inclusive running sum IS "count of
    values <= this bin's upper edge". ``gamma`` rides along so consumers
    can decode bin indices without trusting the caller's alpha."""
    keys = list(keys)
    kq = ", ".join(f"`{k}`" for k in keys)
    part_by = f"PARTITION BY {kq}" if keys else ""
    ord_expr = "sign, coalesce(CASE WHEN sign = -1 THEN -bin ELSE bin END, 0)"
    kq_pre = f"{kq}, " if keys else ""
    return (
        f"SELECT {kq_pre}sign, bin,\n"
        f"  SUM(cnt) OVER ({part_by} ORDER BY {ord_expr}"
        f" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS le,\n"
        f"  SUM(cnt) OVER ({part_by}) AS total,"
        f" {gamma!r}D AS gamma FROM {from_clause}"
    )


def percentile_bins(
    df: DataFrame,
    value: str,
    keys: Sequence[str] = (),
    alpha: float = DEFAULT_RELATIVE_ACCURACY,
    weight: Optional[str] = None,
) -> DataFrame:
    """Calibration half of :func:`percentile_rank`: the per-group
    cumulative bin table ``(keys..., sign, bin, le, total, gamma)``
    where ``le`` = count of values <= the bin's upper edge, ``total``
    the group's finite count, and ``gamma`` the bin base (so consumers
    decode bin indices with the table's OWN base — see
    :func:`quantile_normalize`). ONE partially-aggregated pass
    (:func:`binned_counts` — the shuffle carries |groups| x |bins| rows,
    never the input) plus a window cumsum over that TINY table.

    Build it once on the reference data (yesterday's corpus, the
    training mix), persist or write it out, then score any number of
    frames — batch or STREAMING (stream-static join) — with
    :func:`percentile_lookup`. :func:`percentile_rank` is exactly
    bins + lookup on the same frame.
    """
    keys = list(keys)
    _check_pct_keys(keys)
    binned = _binned_sql(keys, value, alpha, weight, "{df}")
    sql = (
        f"WITH binned AS ({binned})\n"
        + _cum_bins_sql(keys, gamma_of(alpha), "binned")
    )
    return df.sparkSession.sql(sql, df=df)


def percentile_lookup(
    df: DataFrame,
    bins: DataFrame,
    value: str,
    keys: Sequence[str] = (),
    alpha: float = DEFAULT_RELATIVE_ACCURACY,
    out_col: str = "pct_rank",
    broadcast: bool = True,
) -> DataFrame:
    """Scoring half of :func:`percentile_rank`: append each row's rank
    against a PREBUILT :func:`percentile_bins` table. Map-only probe
    side + one equi-join on (keys, sign, bin) — no aggregation over
    ``df``, so it composes with Structured Streaming as a stream-static
    join (score a live stream against yesterday's calibration).

    Probe values are binned with the TABLE's own ``gamma`` column (one
    bounded peek), so a calibration built at a different accuracy than
    the scoring call still matches; ``alpha`` is only the fallback for
    tables without the column. Values whose bin is absent from the
    table rank NULL (for same-frame use every finite row's bin is
    present by construction).
    """
    return _bin_probe_join(
        df, bins, value, keys, _bins_gamma(bins, alpha),
        "c.le / c.total", out_col, broadcast,
    )


def _bins_gamma(bins: DataFrame, alpha: float) -> float:
    """The bin base to probe a calibration table with: the table's OWN
    ``gamma`` column when it has one (so a table calibrated at a
    different accuracy than the scoring call still matches instead of
    ranking everything NULL), else ``gamma_of(alpha)``. The peek is one
    bounded action over a structure-sized table; an empty table falls
    back to the call's alpha (every rank is NULL either way)."""
    if "gamma" in bins.columns:
        row = bins.select("gamma").first()
        if row is not None and row[0] is not None:
            return float(row[0])
    return gamma_of(alpha)


def _bin_probe_join(
    df: DataFrame,
    bins: DataFrame,
    value: str,
    keys: Sequence[str],
    gamma: float,
    out_expr: str,
    out_col: str,
    broadcast: bool,
) -> DataFrame:
    """The shared probe side of :func:`percentile_lookup` and
    :func:`quantile_normalize`: map-only sign/bin derivation on ``df``
    plus one (keys, sign, bin) equi-join against a structure-sized
    table aliased ``c``; ``out_expr`` projects the appended column.
    Non-finite values produce NULL (finite-gated CASE; the bin CAST
    itself is guarded in :func:`_bin_sql`)."""
    if out_col in df.columns:
        raise ValueError(f"out_col {out_col!r} already exists in the frame")
    keys = list(keys)
    lg = repr(math.log(gamma)) + "D"
    v = f"d.`{value}`"
    finite = (
        f"{v} IS NOT NULL AND {v} BETWEEN -{_DBL_MAX} AND {_DBL_MAX}"
    )
    on = f"c.sign = ({_sign_sql(v)}) AND c.bin <=> ({_bin_sql(v, lg)})"
    if keys:
        on += " AND " + " AND ".join(f"d.`{k}` <=> c.`{k}`" for k in keys)
    hint = "/*+ BROADCAST(c) */ " if broadcast else ""
    sql = (
        f"SELECT {hint}d.*, CASE WHEN {finite} THEN {out_expr} END"
        f" AS `{out_col}`\n"
        f"FROM {{df}} d LEFT JOIN {{bins}} c ON {on}"
    )
    return df.sparkSession.sql(sql, df=df, bins=bins)


def percentile_rank(
    df: DataFrame,
    value: str,
    keys: Sequence[str] = (),
    alpha: float = DEFAULT_RELATIVE_ACCURACY,
    weight: Optional[str] = None,
    out_col: str = "pct_rank",
    broadcast: bool = True,
) -> DataFrame:
    """Append each row's bin-granular percentile rank ``P[x <= v]``
    within its ``keys`` group — sketch-driven score normalization
    (per-domain quality calibration for mixture balancing: raw scores
    from different domains aren't comparable; their within-domain
    percentiles are). Exactly :func:`percentile_bins` +
    :func:`percentile_lookup` on the same frame; split the halves to
    calibrate once and score many frames (or a stream).

    The scale shape: ONE partially-aggregated pass builds the per-group
    DDSketch bin table (the shuffle carries |groups| x |bins| rows,
    never the input), a window cumsum over that TINY table turns it
    into "count <= upper bin edge", and the ranks come back through a
    broadcast equi-join on (keys, sign, bin): the probe side is
    map-only, there is no per-row fold over the sketch and no global
    sort. The rank of a row's value is a ratio of exact count sums
    (one division), so it is engine-reproducible wherever the bin
    assignment is (the same ``ceil(ln(v)/ln(gamma))`` contract every
    sketch slot relies on).

    Semantics match :func:`struct_cdf_sql` bin granularity: all values
    in a bin share the rank of the bin's upper edge; NULL / non-finite
    values rank NULL. With ``weight``, ranks are weighted CDF positions;
    a row excluded from the distribution (weight <= 0) still ranks if
    its bin occurs in the distribution, else NULL. ``broadcast=False``
    drops the hint for group x bin tables too large for one executor
    (AQE may still promote).
    """
    bins = percentile_bins(df, value, keys, alpha, weight)
    # Probe with gamma_of(alpha) directly instead of percentile_lookup's
    # _bins_gamma peek: the bins were built HERE at this alpha, and the
    # peek is a .first() ACTION that would execute the whole calibration
    # aggregation over df once, then recompute it (uncached) when the
    # probe join runs — two input scans where one suffices. The peek is
    # only for externally supplied tables of unknown accuracy.
    return _bin_probe_join(
        df, bins, value, keys, gamma_of(alpha),
        "c.le / c.total", out_col, broadcast,
    )


def quantile_normalize(
    df: DataFrame,
    value: str,
    keys: Sequence[str] = (),
    ref_bins: Optional[DataFrame] = None,
    alpha: float = DEFAULT_RELATIVE_ACCURACY,
    weight: Optional[str] = None,
    out_col: str = "qnorm",
    broadcast: bool = True,
) -> DataFrame:
    """Map each row's value onto the REFERENCE distribution's value at
    the same within-group percentile — full quantile normalization, the
    step after :func:`percentile_rank` when a pipeline needs scores on a
    common SCALE rather than ranks (per-domain quality scores projected
    onto the global distribution before one global threshold / mixture
    weight applies).

    ``ref_bins`` is an UNGROUPED :func:`percentile_bins` table (columns
    sign, bin, le, total, gamma) — build it once on the reference
    corpus; ``None`` uses the whole input as its own reference (each
    group normalized onto the global distribution, derived from the
    SAME binned aggregate as the source side — no second input pass).
    Reference bin indices are decoded with the table's OWN ``gamma``
    column, so a reference built at a different ``alpha`` still maps to
    correct values (fractions are alpha-independent; only the
    granularity differs).

    The 100 TB shape — every step is structure-sized except the one
    binned aggregation pass and the map-only probe side:

    1. source bins: one partially-aggregated pass (groups x bins rows);
       the self-reference table re-aggregates those same partials.
    2. CDF inversion WITHOUT a range join: source rows (carrying
       fraction q = le/total) and reference rows (carrying fraction f
       and the bin's representative value) are unioned and sorted by
       (fraction, tag); because the representative value is monotone in
       f, ``min(value) OVER (rows from CURRENT to end)`` at each source
       row IS the first reference bin with f >= q. One window over a
       tiny union — no nested-loop join, no per-row search. Sorting is
       global (no partition) deliberately: the table is groups x bins +
       bins rows, structure-sized by construction.
    3. the appended column comes back through the same broadcast
       (keys, sign, bin) probe join as :func:`percentile_lookup`.

    Output: the representative value (``bin_to_value``) of the matched
    reference bin, exactly the granularity DDSketch quantiles return.
    NULL / non-finite values map to NULL; an empty reference maps
    everything to NULL. Deterministic and engine-reproducible (exact
    count ratios + the same POWER(gamma, bin) representative both
    engines already agree on for histograms).
    """
    keys = list(keys)
    _check_pct_keys(keys)
    spark = df.sparkSession
    gamma = gamma_of(alpha)
    if ref_bins is None:
        binned = spark.sql(
            _binned_sql(keys, value, alpha, weight, "{df}"), df=df
        )
        if keys:
            # The self-reference consumes these partials a second time
            # (re-aggregated without keys). Catalyst's ReuseExchange does
            # NOT deduplicate the two consumers — each branch prunes
            # different columns, so the subtrees differ and the executed
            # plan ran the full binned input pass twice (measured: 3
            # input scans incl. the probe side; 2 after this). A lazy
            # localCheckpoint pins the groups×bins partials — structure-
            # sized by construction — so both consumers read the
            # materialized rows and the input is binned exactly once.
            # Local-bench wall-clock is neutral at 60M in-memory rows
            # (the probe join dominates); the saved pass matters where
            # input scans are storage-bound, i.e. the actual target.
            # Project to the columns the CDF actually consumes BEFORE
            # checkpointing: a checkpoint pins its full schema, so the
            # unprojected form made the 60M-row hash aggregate compute
            # (and materialize) sum(v*w)/min(v)/max(v) partials that
            # quantile normalization never reads — the same stats
            # Catalyst prunes fine in the checkpoint-free
            # percentile_rank plan.
            binned = binned.select(
                *keys, "sign", "bin", "cnt"
            ).localCheckpoint(eager=False)
        src = spark.sql(_cum_bins_sql(keys, gamma, "{b}"), b=binned)
        if keys:
            refagg = binned.groupBy("sign", "bin").agg(
                F.sum("cnt").alias("cnt")
            )
            ref_bins = spark.sql(
                _cum_bins_sql((), gamma, "{b}"), b=refagg
            )
        else:
            ref_bins = src
    else:
        src = percentile_bins(df, value, keys, alpha, weight)
        need = {"sign", "bin", "le", "total", "gamma"}
        cols = set(ref_bins.columns)
        if cols != need:
            raise ValueError(
                f"ref_bins must be an UNGROUPED percentile_bins table with"
                f" columns {sorted(need)}; got {sorted(cols)} (normalize"
                " onto ONE reference distribution: pass keys=() when"
                " building it, and rebuild pre-gamma tables)"
            )
    kq = ", ".join(f"`{k}`" for k in keys)
    kq_pre = f"{kq}, " if keys else ""
    # ref-side key placeholders must carry the SOURCE key types: a
    # mistyped NULL would coerce the whole unioned key column (and then
    # the probe join would compare against the coerced type)
    src_types = dict(src.dtypes)
    k_nulls = "".join(
        f"CAST(NULL AS {src_types[k]}) AS `{k}`, " for k in keys
    )
    # representative value decoded from the reference table's OWN gamma
    # (same arithmetic shape in the DuckDB mirrors: IEEE ops on the same
    # doubles fold to the same constants)
    mult = "(1.0D + (1.0D - 2.0D / (1.0D + gamma)))"
    rep = (
        f"CASE WHEN sign = 1 THEN POWER(gamma, CAST(bin AS DOUBLE)) * {mult}"
        f" WHEN sign = -1"
        f" THEN -POWER(gamma, CAST(bin AS DOUBLE)) * {mult}"
        f" ELSE 0.0D END"
    )
    sql = (
        f"WITH u AS (\n"
        f"  SELECT {kq_pre}sign, bin, 0 AS tag,"
        f" le / total AS f, CAST(NULL AS DOUBLE) AS rv FROM {{src}}\n"
        f"  UNION ALL\n"
        f"  SELECT {k_nulls}sign, bin, 1 AS tag, le / total AS f,"
        f" {rep} AS rv FROM {{ref}}\n"
        f"),\n"
        f"m AS (SELECT *, MIN(rv) OVER (ORDER BY f, tag"
        f" ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS qv"
        f" FROM u)\n"
        f"SELECT {kq_pre}sign, bin, qv FROM m WHERE tag = 0"
    )
    mapping = spark.sql(sql, src=src, ref=ref_bins)
    return _bin_probe_join(
        df, mapping, value, keys, gamma, "c.qv", out_col, broadcast
    )
