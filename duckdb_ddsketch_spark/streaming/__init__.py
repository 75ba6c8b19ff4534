"""Structured Streaming sketch operators (beyond the batch-only reference).

The reference approximates streaming with time-bucketed tables (hourly
sketch tables rolled up to daily, README.md:119-124, 191-198). Here the same
pattern is a first-class stream.

Design constraint: Spark streaming aggregation rejects grouped-agg pandas
UDFs, so the streaming-state hot path must be native. The layering is:

1. ``windowed_binned_counts`` — watermarked windowed hash aggregate over
   (window, keys, sign, bin): fully native, map-side partial aggregation,
   state = |keys|x|bins| ints per open window (a few KB).
2. ``finalize_window_sketches`` — *batch* reassembly of those rows into
   wire-format sketch rows; run it inside ``foreachBatch`` (append mode
   emits each closed window exactly once) or over the stored binned sink.
   Output matches the reference's storage tables: (window bounds, keys,
   sketch BINARY).
3. ``streaming_quantiles`` — batch quantile extraction straight from a
   binned sink, skipping wire format entirely.
4. ``sessionized_sketches`` — ``applyInPandasWithState`` custom stateful
   operator: one DDSketch per key accumulated across micro-batches, emitted
   as updated wire bytes each batch (the custom-state escape hatch for
   semantics Spark's windowed agg can't express).
"""

from __future__ import annotations

from typing import Iterable, Optional, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..sketch import DDSketch, DEFAULT_RELATIVE_ACCURACY

__all__ = [
    "scalable_state_conf",
    "windowed_binned_counts",
    "finalize_window_sketches",
    "streaming_quantiles",
    "sessionized_sketches",
    "sessionized_gap_stats",
    "windowed_hll_registers",
    "windowed_value_counts",
    "streaming_first_seen",
    "streaming_neardup_bands",
    "streaming_neardup_lsh",
    "streaming_gram",
]


def scalable_state_conf() -> dict:
    """Session confs for production-scale streaming state. **This is the
    documented default posture for stateful streaming at scale** — apply
    it unless the sizing rule below says heap is safely sufficient.

    The default HDFS-backed state store keeps every open window's state in
    executor heap — fine locally, an OOM at 100 TB key cardinalities. The
    RocksDB provider (bundled with Spark since 3.2) spills state to local
    disk with bounded memory, and changelog checkpointing uploads only the
    per-batch delta instead of full snapshots. Apply before starting a
    query::

        for k, v in scalable_state_conf().items():
            spark.conf.set(k, v)

    **When RocksDB is mandatory (sizing rule).** Estimate peak state as
    ``open_groups x bytes_per_group``, where ``open_groups`` is the live
    key/window cardinality inside the watermark horizon (for
    :func:`streaming_first_seen`: arrival rate x horizon; for windowed
    aggs: keys x open windows) and ``bytes_per_group`` is the state row
    (a serialized sketch ~ its bin count x ~10 B; HLL: 2^p registers;
    counters: ~100 B). If that estimate per executor exceeds roughly a
    QUARTER of executor heap (state competes with shuffle/exec memory and
    the provider keeps maintenance copies), the on-heap provider is an
    OOM risk and RocksDB is mandatory, not optional. Measured
    (SCALING.md "Streaming", the state-store probe):
    at 10x key cardinality the on-heap provider OOMs a 3.2 GB heap while
    RocksDB completes the same query with ~600 MB resident and state on
    SST files.

    State-store choice does not change results — only where state lives —
    pinned by ``tests/test_streaming.py`` two ways: the windowed aggregate
    re-run under RocksDB equals the batch kernel
    (``test_rocksdb_state_store_matches_default``), and every stateful
    operator in this module produces identical output under either
    provider (``test_scalable_state_conf_composes_with_all_stateful_
    operators``).
    """
    return {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state"
            ".RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
            "true"
        ),
    }


def windowed_binned_counts(
    stream: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    value: str,
    window: str = "1 hour",
    slide: Optional[str] = None,
    watermark: str = "10 minutes",
    alpha: float = DEFAULT_RELATIVE_ACCURACY,
) -> DataFrame:
    """Streaming (window, keys, sign, bin) → cnt — the native sketch state.

    Spark's streaming state store handles the windowed hash aggregate with
    partial aggregation; no Python in the hot path. Append mode + watermark
    emits each window's rows exactly once when it closes.
    """
    from ..operators.native import gamma_of, value_to_bin_expr

    gamma = gamma_of(alpha)
    v = F.col(value)
    sign = F.when(v > 0, F.lit(1)).when(v < 0, F.lit(-1)).otherwise(F.lit(0))
    bin_col = (
        F.when(v > 0, value_to_bin_expr(v, gamma))
        .when(v < 0, value_to_bin_expr(-v, gamma))
        .otherwise(F.lit(None).cast("int"))
    )
    w = F.window(F.col(ts_col), window, slide or window)
    # BETWEEN +-DBL_MAX drops NULL/NaN/+-inf — the engine-wide
    # skip-non-finite rule (sketch.py add_with_count)
    finite = v.between(-1.7976931348623157e308, 1.7976931348623157e308)
    return (
        stream.where(v.isNotNull() & finite)
        .withWatermark(ts_col, watermark)
        .groupBy(w.alias("win"), *keys, sign.alias("sign"), bin_col.alias("bin"))
        .agg(F.count("*").cast("double").alias("cnt"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *keys,
            "sign",
            "bin",
            "cnt",
        )
    )


def finalize_window_sketches(
    binned: DataFrame,
    keys: Sequence[str],
    alpha: float = DEFAULT_RELATIVE_ACCURACY,
) -> DataFrame:
    """Batch reassembly: binned rows → (window bounds, keys, sketch BINARY).

    Use inside ``foreachBatch`` (each closed window arrives complete in one
    batch under append mode) or over a stored binned sink.
    """
    from ..operators import native

    gamma = native.gamma_of(alpha)
    group = ["window_start", "window_end", *keys]
    entry = F.struct(F.col("bin").alias("key"), F.col("cnt").alias("value"))
    assembled = binned.groupBy(*group).agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.when(F.col("sign") == 1, entry)))
        ).alias("pos"),
        F.map_from_entries(
            F.sort_array(F.collect_list(F.when(F.col("sign") == -1, entry)))
        ).alias("neg"),
        F.sum(F.when(F.col("sign") == 0, F.col("cnt")).otherwise(F.lit(0.0))).alias(
            "zero_count"
        ),
        F.sum("cnt").alias("count"),
    )
    sketch_struct = F.struct(
        F.lit(gamma).alias("gamma"),
        F.lit(0.0).alias("index_offset"),
        F.col("pos"),
        F.col("neg"),
        F.col("zero_count"),
        F.col("count"),
        F.lit(0.0).alias("sum"),  # reconstructed from bins on decode
        F.lit(None).cast("double").alias("min"),
        F.lit(None).cast("double").alias("max"),
    )
    return assembled.select(
        *group, native.struct_to_wire(sketch_struct).alias("sketch")
    )


def streaming_quantiles(
    binned_sink: DataFrame,
    keys: Sequence[str],
    alpha: float = DEFAULT_RELATIVE_ACCURACY,
    quantiles: Sequence[float] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Batch quantile extraction over a stored streaming binned sink.

    ``binned_sink`` holds (window_start, window_end, keys, sign, bin, cnt)
    rows written by ``windowed_binned_counts``; each window reports
    independently.
    """
    from ..operators import native

    keys = ["window_start", "window_end", *keys]
    gamma = native.gamma_of(alpha)
    # representative value strictly inside the bin's interval (gamma^(bin-1),
    # gamma^bin]: exponent bin-0.5 re-bins to the same index without the
    # boundary ambiguity of gamma^bin under fp log round-off
    df = binned_sink.withColumn(
        "v",
        F.when(F.col("sign") == 0, F.lit(0.0)).otherwise(
            F.when(F.col("sign") == 1, F.lit(1.0)).otherwise(F.lit(-1.0))
            * F.pow(F.lit(gamma), F.col("bin").cast("double") - F.lit(0.5))
        ),
    )
    return native.sketch_quantile_agg(df, keys, "v", alpha, quantiles, weight="cnt")


def sessionized_sketches(
    stream: DataFrame,
    key_col: str,
    value: str,
    alpha: float = DEFAULT_RELATIVE_ACCURACY,
) -> DataFrame:
    """Per-key running DDSketch via ``applyInPandasWithState``.

    State: the sketch's sparse bins, carried across micro-batches. Each
    batch emits the key's updated serialized sketch + count (update-mode
    semantics). This is the template for custom stateful sketch operators
    (sessionization, decay, alerting) that windowed aggregation can't
    express. State size is the sketch itself: O(bins), independent of rows.

    At scale, run under :func:`scalable_state_conf` (RocksDB state store);
    its docstring carries the sizing rule for when that posture is
    mandatory (open keys x sketch bytes vs executor heap).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("sketch", BinaryType()),
            StructField("count", LongType()),
        ]
    )
    state_schema = StructType([StructField("blob", BinaryType())])

    def update(key: Tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.exists:
            (blob,) = state.get
            sketch = DDSketch.decode(bytes(blob))
        else:
            sketch = DDSketch(alpha)
        for pdf in pdfs:
            sketch.extend_array(pdf[value].dropna().to_numpy())
        blob = sketch.encode()
        state.update((blob,))
        yield pd.DataFrame(
            {"key": [key[0]], "sketch": [blob], "count": [int(sketch.count)]}
        )

    return (
        stream.select(F.col(key_col).cast("string").alias("key"), value)
        .groupBy("key")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def sessionized_gap_stats(
    stream: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    gap_seconds: float = 1800.0,
    tiebreak: Optional[str] = None,
) -> DataFrame:
    """Streaming gap-based sessionization via ``applyInPandasWithState``.

    Per key, carries (last event time, current-session start, session
    counters) across micro-batches and emits the RUNNING per-key summary
    each batch (update-mode semantics): the last emission per key is the
    final answer — identical to the batch :func:`~duckdb_ddsketch_spark.
    operators.relational.sessionize` roll-up. Gap comparison is strict
    (``> gap`` starts a new session), matching the batch operator and the
    window-SQL oracle.

    State is O(1) per key (six longs) regardless of event count — heap
    holds it until key cardinality is extreme; apply
    :func:`scalable_state_conf` (and see its sizing rule) past ~10M live
    keys per executor. Assumes
    per-key event-time-ordered arrival WITHIN the replayed source (true
    for log replay / availableNow over time-ordered files); a production
    out-of-order stream would buffer behind a watermark first.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("key", LongType()),
            StructField("n_sessions", LongType()),
            StructField("n_events", LongType()),
            StructField("max_session_events", LongType()),
            StructField("total_dur_us", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_us", LongType()),
            StructField("cur_start_us", LongType()),
            StructField("cur_events", LongType()),
            StructField("closed_sessions", LongType()),
            StructField("closed_dur_us", LongType()),
            StructField("max_events", LongType()),
            StructField("n_events", LongType()),
        ]
    )
    gap_us = int(gap_seconds * 1_000_000)

    def update(key: Tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.exists:
            (last, cur_start, cur_ev, closed_s, closed_d, max_ev, n_ev) = state.get
        else:
            last = cur_start = None
            cur_ev = closed_s = closed_d = max_ev = n_ev = 0
        frames = [p for p in pdfs if len(p)]
        if frames:
            pdf = pd.concat(frames)
            order = ["__us"] + (["__tb"] if tiebreak else [])
            pdf = pdf.sort_values(order)
            for us in pdf["__us"].tolist():
                us = int(us)
                if last is None or us - last > gap_us:
                    if cur_start is not None:
                        closed_s += 1
                        closed_d += last - cur_start
                        max_ev = max(max_ev, cur_ev)
                    cur_start = us
                    cur_ev = 0
                cur_ev += 1
                n_ev += 1
                last = us
        state.update((last, cur_start, cur_ev, closed_s, closed_d, max_ev, n_ev))
        if n_ev:
            open_dur = (last - cur_start) if cur_start is not None else 0
            yield pd.DataFrame(
                {
                    "key": [key[0]],
                    "n_sessions": [closed_s + (1 if cur_ev else 0)],
                    "n_events": [n_ev],
                    "max_session_events": [max(max_ev, cur_ev)],
                    "total_dur_us": [closed_d + open_dur],
                }
            )

    cols = [
        F.col(key_col).cast("long").alias("key"),
        F.unix_micros(F.col(ts_col)).alias("__us"),
    ]
    if tiebreak:
        cols.append(F.col(tiebreak).alias("__tb"))
    return (
        # NULL key/timestamp rows drop like every other operator in this
        # module: a NULL __us reaches pandas as NaN (nullable LongType ->
        # float64) and int(NaN) would KILL the streaming query on one
        # malformed row
        stream.where(F.col(key_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(*cols)
        .groupBy("key")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def windowed_hll_registers(
    stream: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    col: str,
    p: int = 8,
    window: str = "1 hour",
    slide: Optional[str] = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming per-window HLL registers (window, keys, bucket) → maxrho —
    the distinct-count analogue of :func:`windowed_binned_counts`.

    MAX is a native streaming aggregate, so the hot path stays JVM-side and
    state is bounded at 2^p registers per open (window, keys) group. Collapse
    emitted registers to estimates with ``operators.approx.hll_estimate``
    (batch, e.g. inside ``foreachBatch``), keyed on the window bounds; a
    MAX-merge re-groupBy first combines registers across stores/streams.
    """
    from ..operators.approx import hll_register_exprs

    bucket_sql, rho_sql = hll_register_exprs(col, p)
    w = F.window(F.col(ts_col), window, slide or window)
    hashed = (
        stream.where(F.col(col).isNotNull())
        .withColumn("__h", F.md5(F.col(col).cast("string")))
    )
    return (
        hashed.withWatermark(ts_col, watermark)
        .groupBy(
            w.alias("win"), *keys, F.expr(bucket_sql).alias("bucket")
        )
        .agg(F.max(F.expr(rho_sql)).alias("maxrho"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *keys,
            "bucket",
            "maxrho",
        )
    )


def streaming_first_seen(
    stream: DataFrame,
    ts_col: str,
    keys: Sequence[str] = ("doc_id",),
    text: Optional[str] = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming first-occurrence dedup for a continuous ingest front-end.

    Emits each distinct key tuple — or, when ``text`` is given, each
    distinct normalized-text digest — exactly once within the watermark
    horizon, via Spark's native ``dropDuplicatesWithinWatermark`` state:
    one state row per distinct value currently inside the horizon, evicted
    automatically as the watermark advances. State is therefore bounded by
    arrival rate x horizon, never by stream length, and lives in the
    configured state store (RocksDB under ``scalable_state_conf``), so the
    operator runs at 1000-executor scale with no Python in the hot path.
    At ingest-front-end cardinalities (arrival rate x horizon easily
    reaches billions of digests), :func:`scalable_state_conf` is the
    mandatory posture — see its sizing rule.

    The digest path reuses the batch normalization
    (:func:`..operators.dedup.normalize_text`, md5 — the same canonical
    form ``exact_dedup`` / ``incremental_dedup`` key on), so a streaming
    front-end and the batch dedup ledger agree on what counts as a
    duplicate, and only the 16-byte digest — not the text — enters state.

    A duplicate arriving *after* its first occurrence has aged out of the
    horizon is re-emitted (the documented ``dropDuplicatesWithinWatermark``
    contract); dedup against all history is the batch
    ``incremental_dedup`` anti-join's job downstream.
    """
    from ..operators.dedup import normalize_text

    df = stream
    dedup_cols = list(keys)
    if text is not None:
        df = df.withColumn("__digest", F.md5(normalize_text(F.col(text))))
        dedup_cols = ["__digest"]
    out = df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        dedup_cols
    )
    return out.drop("__digest") if text is not None else out


def streaming_neardup_bands(
    stream: DataFrame,
    ts_col: str,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    ngram: int = 2,
    watermark: str = "10 minutes",
) -> DataFrame:
    """First-seen MinHash BAND occurrences — the state stage of the
    streaming near-dup ingest gate (:func:`streaming_neardup_lsh`).

    Each arriving document is expanded map-side into ``bands`` LSH band
    rows (the same signature and banding math as the batch
    ``dedup.lsh_candidate_pairs`` pipeline, via the shared
    ``dedup.band_hash_structs`` formula — a streaming front-end and a
    batch dedup pass agree on what a band collision is). Native
    ``dropDuplicatesWithinWatermark`` on (band_id, band_hash) then emits
    each distinct band value exactly once within the watermark horizon:
    a surviving row means "this band content is NEW"; a dropped row means
    the arriving document collides with an earlier document in that band
    (an LSH near-dup candidate). Returns the surviving band rows with all
    input columns plus (band_id, band_hash).

    Shingle-less documents (NULL text, or fewer than ``ngram`` tokens)
    carry NO MinHash information — the batch pipeline never emits them
    from ``minhash_signatures_df``, so batch LSH never treats them as
    candidates. The stream matches: such rows BYPASS the band state
    entirely and pass through with ``bands`` per-arrival sentinel band
    rows (band_hash = md5 over a reserved tag, the band index, <id_col>,
    and the event time — unique per arrival, so they never collide with
    anything and never enter state). Without this guard every degenerate
    doc would share the all-NULL signature's md5('') bands and all but
    the first would be silently dropped wholesale.

    Scale shape: the signature is computed per-row map-side (no
    pre-state aggregation is possible in a stream, so the shingle set is
    evaluated once per hash — fine at ingest row sizes; the batch
    ``minhash_signatures_df`` remains the corpus-scan path). State is one
    row per DISTINCT band value inside the horizon — bounded by
    bands x distinct-content arrival rate x horizon, never by stream
    length, watermark-evicted, JVM-native (RocksDB under
    ``scalable_state_conf``, the mandatory posture at front-end rates —
    see its sizing rule; ~50 B per state row: two 16-byte hashes + key
    overhead).

    Which of several SIMULTANEOUS colliders (same micro-batch) survives a
    band is not deterministic — the same first-arrival-wins caveat as
    :func:`streaming_first_seen`; the distinct-band SET emitted is.
    """
    from ..operators.dedup import minhash_band_structs
    from ..operators.text import word_ngrams

    if num_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes}"
        )
    # word_ngrams returns a (possibly empty) array, never NULL, so this
    # predicate is two-valued and the where/~where split is a partition
    has_shingles = F.size(word_ngrams(F.col(text), ngram)) > 0
    # watermark BEFORE the split: each branch's watermark node must see
    # every source row, or a branch whose filter matches nothing would
    # hold the min-policy global watermark at epoch and stall all output
    wm = stream.withWatermark(ts_col, watermark)
    banded = wm.where(has_shingles).select(
        "*",
        F.explode(
            minhash_band_structs(
                F.col(text), num_hashes=num_hashes, bands=bands, ngram=ngram
            )
        ).alias("__b"),
    ).select("*", "__b.band_id", "__b.band_hash").drop("__b")
    gated = banded.dropDuplicatesWithinWatermark(["band_id", "band_hash"])
    sentinel = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit("__noshingle__"),
                        F.lit(str(b)),
                        F.col(id_col).cast("string"),
                        F.col(ts_col).cast("string"),
                    )
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    passthrough = (
        wm.where(~has_shingles)
        .select("*", F.explode(sentinel).alias("__b"))
        .select("*", "__b.band_id", "__b.band_hash")
        .drop("__b")
    )
    return gated.unionByName(passthrough)


def streaming_neardup_lsh(
    stream: DataFrame,
    ts_col: str,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    ngram: int = 2,
    watermark: str = "10 minutes",
    window: str = "5 minutes",
) -> DataFrame:
    """Streaming near-duplicate ingest gate — the LSH complement of
    :func:`streaming_first_seen`: exact repeats are one digest lookup,
    but boilerplate NEAR-duplicates (same text, small edits) sail through
    a digest gate; this one drops them at ingest.

    Composition of two native stateful operators (no Python in the hot
    path): :func:`streaming_neardup_bands` (first-seen band state) then a
    windowed per-document count of the bands that were new. A document
    whose bands are ALL first-seen collides with nothing inside the
    horizon -> ``is_novel`` true; any dropped band means an LSH band
    collision with an earlier document -> ``is_novel`` false (the batch
    LSH candidate rule: one shared band = candidate pair). A document
    whose EVERY band was already seen produces no output row at all —
    it is dropped wholesale, like a repeat in ``streaming_first_seen``.
    Shingle-less documents (NULL text / fewer than ``ngram`` tokens) are
    always novel: they bypass the band state with per-arrival sentinel
    bands (see :func:`streaming_neardup_bands`), matching batch LSH,
    which never emits them as candidates.

    Returns (window_start, window_end, <id_col>, n_new_bands, is_novel),
    emitted in append mode when the event-time window closes under the
    watermark. Rows with ``is_novel`` feed the training corpus; rows
    without are the near-dup audit stream (a production gate filters
    ``WHERE is_novel``). Band collisions are CANDIDATES, not verified
    near-dups — the stream errs toward dropping lookalikes (tune
    bands/num_hashes for the Jaccard threshold curve exactly as in batch
    LSH); candidates needing exact verification go through the batch
    ``jaccard_pairs`` on the audit stream downstream.

    State: band state as in :func:`streaming_neardup_bands` plus one
    counter per (window, doc) — both watermark-bounded. Like every
    first-wins gate, WHICH of two same-micro-batch colliders is called
    novel is not deterministic; the novel/dropped PARTITION of any
    cross-batch collision is.

    Counting rule (round 12): sentinel rows from shingle-less arrivals
    are excluded from the band count — a (window, doc) group that is
    PURE sentinel reads ``n_new_bands == bands`` regardless of how many
    times the degenerate doc arrived in the window (each arrival emits
    ``bands`` passthrough rows, so a plain count(*) would read
    2x ``bands`` for a retried NULL-text event and flip the documented
    always-novel contract to FALSE). Distinct aggregates are unsupported
    in streaming, so the split is a conditional count on the same
    shingle predicate the band stage branched on; a mixed group (same id
    arriving both with and without shingles in one window) is decided by
    its real band rows alone.
    """
    from ..operators.text import word_ngrams

    first = streaming_neardup_bands(
        stream, ts_col, text=text, id_col=id_col, num_hashes=num_hashes,
        bands=bands, ngram=ngram, watermark=watermark,
    )
    is_real = (F.size(word_ngrams(F.col(text), ngram)) > 0).cast("int")
    agg = first.groupBy(F.window(F.col(ts_col), window).alias("win"), id_col).agg(
        F.sum(is_real).alias("__n_real")
    )
    n_new = F.when(F.col("__n_real") > 0, F.col("__n_real")).otherwise(
        F.lit(bands)
    )
    return agg.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        id_col,
        n_new.cast("int").alias("n_new_bands"),
        (n_new == bands).alias("is_novel"),
    )


def windowed_value_counts(
    stream: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    col: str,
    window: str = "1 hour",
    slide: Optional[str] = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming per-window value counts — the heavy-hitters feed.

    COUNT is a native streaming aggregate (JVM hot path, map-side partial
    aggregation); state is one counter per open (window, keys, value) group.
    Rank the emitted counters in batch (window function over the tiny
    per-window count table) to get top-k heavy hitters per window; counters
    from multiple stores/streams merge by SUM before ranking.
    """
    w = F.window(F.col(ts_col), window, slide or window)
    return (
        stream.where(F.col(col).isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(w.alias("win"), *keys, col)
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *keys,
            col,
            "cnt",
        )
    )


def streaming_gram(
    stream: DataFrame,
    vec_col: str = "embedding",
    dims: int = 0,
    integer: bool = False,
    augment: bool = False,
) -> DataFrame:
    """Running Gram matrix over a vector stream — the embedding-drift
    monitor: maintain ``G[i][j] = sum(x_i * x_j)`` (plus column sums and
    count via ``augment=True``'s homogeneous coordinate) continuously and
    derive mean/covariance/spectrum in the sink whenever wanted.

    Scale shape: the stateless ``mapInArrow`` collapse from the batch
    operator (one numpy matmul per Arrow batch → one d x d partial) runs
    per micro-batch, and the global ``groupBy(i, j).sum`` keeps EXACTLY
    d^2 state cells regardless of stream volume — bounded state without a
    watermark, the streaming analogue of the sketch aggregates. Write in
    ``update`` (changed cells per trigger) or ``complete`` mode.

    ``dims`` is REQUIRED (> 0): a streaming source can't be probed for
    width. ``integer=True`` over quantization codes keeps the running
    sums exact BIGINTs, so a monitor restart replaying the stream
    reproduces bit-identical state. Window the monitor by composing
    upstream instead: filter the stream to a time slice, or run one query
    per slice — per-event-time-window Gram needs the bucketing inside the
    collapse and is deliberately out of scope here.

    Batch-equality contract: after a stream drains, the (i, j, g) state
    equals :func:`~..operators.decomposition.gram_matrix` over the same
    rows (pinned in test_streaming.py).
    """
    from ..operators.decomposition import _gram_partials_fn

    if dims <= 0:
        raise ValueError(
            "streaming_gram requires dims > 0 (a streaming source cannot "
            "be probed for the embedding width)"
        )
    if augment and integer:
        raise ValueError(
            "augment appends a float 1.0 coordinate; use it with "
            "integer=False (quantize after centering instead)"
        )
    vec = F.col(vec_col)
    if augment:
        from ..operators.similarity import _dbl

        stream = stream.where(vec.isNotNull()).select(
            F.concat(_dbl(vec), F.array(F.lit(1.0))).alias(vec_col)
        )
        dims = dims + 1
    part, schema = _gram_partials_fn(vec_col, dims, integer)
    out_type = "long" if integer else "double"
    partials = stream.select(vec_col).mapInArrow(part, schema=schema)
    return partials.groupBy("i", "j").agg(
        F.sum("g").cast(out_type).alias("g")
    )
