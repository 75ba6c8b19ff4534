"""The workloads, each driven through the package's public entry points.

A workload sets up its inputs from the seed, then runs operations. One
operation is ``plan(i)`` (the call that returns the DataFrame, i.e. driver
work) followed by ``execute(planned)`` (the Spark action). ``check`` compares
the outputs with the pure-Python ``DDSketch`` kernel after timing ends and
returns one verdict per operation.
"""

from __future__ import annotations

import gzip
import json
import time
from pathlib import Path

import numpy as np
import pandas as pd

from duckdb_ddsketch_spark import DDSketch
from duckdb_ddsketch_spark.operators import native

ALPHA = 0.01
# Input partitions are fixed, not derived from the core count, so that one
# seed gives the same rows (Spark's randn depends on the partitioning).
INPUT_PARTITIONS = 8
QUANTILES = (0.25, 0.5, 0.75, 0.9, 0.95, 0.99)
FIXTURE = Path("tests") / "fixtures" / "production_sketches.jsonl.gz"

SIZES = {
    "full": {
        "ingest": {"series": 100, "buckets": 12, "rows_per_sketch": 333},
        "rollup": {"series": 100, "buckets": 15, "rows_per_sketch": 333},
        "point_query": {"series": 100, "slots": 720, "window": 360, "pool": 32},
    },
    "toy": {
        "ingest": {"series": 10, "buckets": 6, "rows_per_sketch": 100},
        "rollup": {"series": 10, "buckets": 6, "rows_per_sketch": 100},
        "point_query": {"series": 8, "slots": 90, "window": 36, "pool": 8},
    },
}


def latency_values(spark, rows: int, series: int, buckets: int, seed: int):
    """Latency-shaped (log-normal, ms) values keyed by (series, bucket);
    every (series, bucket) gets ``rows / (series * buckets)`` values."""
    return spark.range(rows, numPartitions=INPUT_PARTITIONS).selectExpr(
        f"CAST(id % {series} AS INT) AS series",
        f"CAST((id DIV {series}) % {buckets} AS INT) AS bucket",
        f"exp(ln(20.0D) + 0.25D * (id % 7) + 0.9D * randn({seed})) AS value",
    )


KEYS = ["series", "bucket"]


def ingest_plan(src):
    """The write path: native struct sketch per key, encoded to wire bytes."""
    sk = native.sketch_struct_agg(src, KEYS, "value", ALPHA)
    return sk.select(*KEYS, native.struct_to_wire("sketch").alias("sketch"))


def merge_blobs(blobs) -> DDSketch | None:
    """The reference aggregate's rule, on the kernel: NULL, empty and
    undecodable rows are skipped, the first decodable sketch is adopted and
    later ones merged (mismatched ones dropped)."""
    merged = None
    for blob in blobs:
        if blob is None or len(blob) == 0:
            continue
        try:
            s = DDSketch.decode(bytes(blob))
        except Exception:
            continue
        if merged is None:
            merged = s
        else:
            try:
                merged.merge(s)
            except ValueError:
                pass
    return merged


def malform(blobs: list, rng: np.random.Generator, share: float = 0.015) -> list:
    """Replace ``share`` of the blobs with NULL, empty and truncated ones,
    one third each, at seed-chosen positions."""
    out = list(blobs)
    n_bad = max(3, int(len(out) * share))
    for k, pos in enumerate(rng.choice(len(out), size=n_bad, replace=False)):
        blob = out[pos]
        out[pos] = (None, b"", blob[: len(blob) // 2])[k % 3]
    return out


def rel_eq(a, b, tol: float = 1e-9) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return a == b or abs(a - b) <= tol * max(abs(a), abs(b))


class Workload:
    name = ""
    item = ""  # what items_per_s counts
    warmup_ops = 1  # operations run before timing: until latency settles

    def __init__(self, spark, work: Path, root: Path, seed: int, size: dict):
        self.spark = spark
        self.work = work
        self.root = root
        self.seed = seed
        self.size = size
        self.rng = np.random.default_rng(seed)

    def setup(self) -> None:
        raise NotImplementedError

    def warmup(self) -> list[float]:
        """Run the warm-up operations; their times, in seconds."""
        times = []
        for i in range(self.warmup_ops):
            t0 = time.perf_counter()
            self.execute(self.plan(-1 - i))
            times.append(time.perf_counter() - t0)
        return times

    def plan(self, i: int):
        raise NotImplementedError

    def execute(self, planned):
        raise NotImplementedError

    def items_per_op(self) -> int:
        raise NotImplementedError

    def check(self, outputs: list) -> list[bool]:
        """One verdict per ``(i, output)`` of the operations that completed."""
        raise NotImplementedError

    def kernel_blobs(self) -> list[bytes]:
        """Wire blobs of this workload, for timing the kernel in-process."""
        raise NotImplementedError

    def named_metrics(self) -> dict:
        """Workload-specific metrics beyond the shared ones: name -> (value, unit)."""
        return {}


class Ingest(Workload):
    """Raw values -> one wire blob per (series, bucket) -> parquet."""

    name = "ingest"
    item = "rows"
    warmup_ops = 7  # the cold first operation takes ~8x a settled one; six more settle it

    def setup(self):
        s = self.size
        self.n_sketches = s["series"] * s["buckets"]
        self.rows = self.n_sketches * s["rows_per_sketch"]
        self.src = latency_values(self.spark, self.rows, s["series"], s["buckets"], self.seed)
        self.out = str(self.work / "ingest_out")
        self.stored = None

    def plan(self, i):
        return ingest_plan(self.src)

    def execute(self, planned):
        planned.write.mode("overwrite").parquet(self.out)

    def items_per_op(self):
        return self.rows

    def check(self, outputs):
        """Every operation rewrites the same output from the same input, so
        the last one's output stands for all of them."""
        stored = self.spark.read.parquet(self.out).toPandas()
        self.stored = stored
        ok = len(stored) == self.n_sketches
        decoded = [DDSketch.decode(bytes(b)) for b in stored["sketch"]]
        ok = ok and sum(d.count for d in decoded) == self.rows
        picks = self.rng.choice(len(stored), size=min(5, len(stored)), replace=False)
        wanted = stored.iloc[picks]
        cond = " OR ".join(
            f"(series = {int(r.series)} AND bucket = {int(r.bucket)})"
            for r in wanted.itertuples()
        )
        values = self.src.where(cond).toPandas()
        for r in wanted.itertuples():
            vs = values[(values.series == r.series) & (values.bucket == r.bucket)]
            expect = DDSketch(ALPHA).extend(vs["value"].tolist()).encode()
            ok = ok and bytes(r.sketch) == expect
        return [ok] * len(outputs)

    def kernel_blobs(self):
        return [bytes(b) for b in self.stored["sketch"][:400]]

    def named_metrics(self):
        lengths = self.stored["sketch"].map(len)
        return {"stored_bytes_per_sketch": (float(lengths.mean()), "B")}


class Rollup(Workload):
    """The reference's canonical query over stored fat blobs."""

    name = "rollup"
    item = "sketches"
    warmup_ops = 6  # latency falls ~30% over the first ten operations
    SQL = (
        "SELECT series, ddsketch_stats_agg(sketch) AS stats"
        " FROM rollup_sketches GROUP BY series"
    )

    def setup(self):
        s = self.size
        series = np.repeat(np.arange(s["series"], dtype=np.int32), s["buckets"])
        bucket = np.tile(np.arange(s["buckets"], dtype=np.int32), s["series"])
        values = self.rng.lognormal(0.0, 0.9, size=(len(series), s["rows_per_sketch"]))
        values *= (20.0 * np.exp(0.25 * (series % 7)))[:, None]
        blobs = [DDSketch(ALPHA).extend_array(v).encode() for v in values]
        table = pd.DataFrame({"series": series, "bucket": bucket})
        self.good = blobs
        table["sketch"] = malform(blobs, self.rng)
        self.table = table
        path = str(self.work / "rollup_table")
        self.spark.createDataFrame(table, "series int, bucket int, sketch binary").write.mode(
            "overwrite"
        ).parquet(path)
        self.spark.read.parquet(path).createOrReplaceTempView("rollup_sketches")
        picks = self.rng.choice(s["series"], size=min(8, s["series"]), replace=False)
        self.expected = {}
        for sid in picks.tolist():
            merged = merge_blobs(table.loc[table.series == sid, "sketch"])
            # finalized through the wire, as the aggregate's result is
            self.expected[sid] = DDSketch.decode(merged.encode())

    def plan(self, i):
        return self.spark.sql(self.SQL)

    def execute(self, planned):
        return planned.collect()

    def items_per_op(self):
        return len(self.table)

    def _ok(self, rows) -> bool:
        if len(rows) != self.size["series"]:
            return False
        got = {r["series"]: r["stats"] for r in rows}
        for sid, m in self.expected.items():
            st = got.get(sid)
            if st is None or bytes(st["sketch"]) != m.encode():
                return False
            if st["count"] != m.get_count():
                return False
            if st["min"] != m.get_min() or st["max"] != m.get_max():
                return False
            if not (rel_eq(st["sum"], m.get_sum()) and rel_eq(st["avg"], m.get_avg())):
                return False
            for q in QUANTILES:
                if st[f"p{round(q * 100)}"] != m.quantile(q):
                    return False
        return True

    def check(self, outputs):
        return [self._ok(rows) for _, rows in outputs]

    def kernel_blobs(self):
        return self.good[:400]


class PointQuery(Workload):
    """Dashboard query: one quantile of one series over a one-hour window."""

    name = "point_query"
    item = "queries"
    warmup_ops = 3

    def setup(self):
        s = self.size
        with gzip.open(self.root / FIXTURE, "rt") as f:
            fixtures = [bytes.fromhex(json.loads(line)["hex"]) for line in f]
        n = s["series"] * s["slots"]
        picks = self.rng.integers(0, len(fixtures), size=n)
        self.good = [fixtures[k] for k in picks]
        blobs = malform(self.good, self.rng)
        table = pd.DataFrame({
            "series": np.repeat(np.arange(s["series"], dtype=np.int32), s["slots"]),
            "slot": np.tile(np.arange(s["slots"], dtype=np.int32), s["series"]),
            "sketch": blobs,
        })
        path = str(self.work / "point_table")
        self.spark.createDataFrame(table, "series int, slot int, sketch binary").write.mode(
            "overwrite"
        ).parquet(path)
        self.spark.read.parquet(path).createOrReplaceTempView("point_sketches")
        self.queries, self.expected = [], []
        w = s["window"]
        for _ in range(s["pool"]):
            sid = int(self.rng.integers(s["series"]))
            start = int(self.rng.integers(s["slots"] - w + 1))
            q = float(self.rng.choice([0.5, 0.9, 0.99]))
            self.queries.append(
                f"SELECT ddsketch_quantile(ddsketch_agg(sketch), {q!r}D) AS v"
                f" FROM point_sketches WHERE series = {sid}"
                f" AND slot >= {start} AND slot < {start + w}"
            )
            base = sid * s["slots"] + start
            merged = merge_blobs(blobs[base: base + w])
            self.expected.append(None if merged is None else merged.quantile(q))

    def plan(self, i):
        return self.spark.sql(self.queries[i % len(self.queries)])

    def execute(self, planned):
        return planned.collect()[0]["v"]

    def items_per_op(self):
        return 1

    def check(self, outputs):
        return [v == self.expected[i % len(self.expected)] for i, v in outputs]

    def kernel_blobs(self):
        return self.good[:2000]


WORKLOADS = {w.name: w for w in (Ingest, Rollup, PointQuery)}


def sketch_layer(blobs: list[bytes], min_s: float = 0.15) -> dict:
    """Per-call kernel cost over the workload's own blobs, in microseconds."""

    def per_call(fn, items) -> float:
        calls, t0 = 0, time.perf_counter()
        while True:
            for x in items:
                fn(x)
            calls += len(items)
            elapsed = time.perf_counter() - t0
            if elapsed >= min_s:
                return elapsed / calls * 1e6

    decoded = [DDSketch.decode(b) for b in blobs]
    acc = DDSketch.decode(blobs[0])
    return {
        "decode_us": per_call(DDSketch.decode, blobs),
        "encode_us": per_call(DDSketch.encode, decoded),
        "merge_us": per_call(acc.merge, decoded),
        "quantile_us": per_call(lambda s: s.quantile(0.99), decoded),
        "bins_per_sketch": float(np.mean(
            [len(d.positive_bins) + len(d.negative_bins) for d in decoded]
        )),
        "wire_bytes": float(np.mean([len(b) for b in blobs])),
    }


def native_split(wl: Workload, reader, reps: int = 2) -> dict:
    """Time the native write path layer by layer into the no-op sink:
    binned counts, then struct assembly on top, then the wire hop on top,
    then the full path into parquet instead (the sink), each the mean of
    ``reps`` runs. Only ``ingest`` takes this path."""
    out = {
        "binned_counts_s": 0.0, "struct_assembly_s": 0.0, "struct_to_wire_s": 0.0,
        "binned_rows": 0.0, "partial_agg_ratio": 0.0, "sink_s": 0.0,
    }
    if wl.name != "ingest":
        return out
    steps = {
        "binned": lambda: native.binned_counts(wl.src, KEYS, "value", ALPHA),
        "struct": lambda: native.sketch_struct_agg(wl.src, KEYS, "value", ALPHA),
        "wire": lambda: ingest_plan(wl.src),
        "parquet": lambda: ingest_plan(wl.src),
    }
    sc = wl.spark.sparkContext
    times = {step: [] for step in steps}
    for rep in range(reps):
        for step, build in steps.items():
            group = f"perfbench-native-{step}-{rep}"
            sc.setJobGroup(group, f"{wl.name}:native.{step}", False)
            reader.forget_executions()
            df = build()
            t0 = time.perf_counter()
            if step == "parquet":
                wl.execute(df)
            else:
                df.write.format("noop").mode("overwrite").save()
            times[step].append(time.perf_counter() - t0)
            if step == "binned" and rep == 0:
                stages = reader.stage_metrics(group)
                out["partial_agg_ratio"] = stages["shuffle_records"] / wl.rows
                # the final aggregate emits the binned rows; the partial one more
                agg_rows = [
                    float(v.replace(",", ""))
                    for _, _, metric, v in reader.sql_metrics(group, lambda n: "HashAggregate" in n)
                    if metric == "number of output rows"
                ]
                out["binned_rows"] = min(agg_rows) if agg_rows else 0.0
    sc.setLocalProperty("spark.jobGroup.id", None)
    mean = {step: sum(t) / len(t) for step, t in times.items()}
    out["binned_counts_s"] = mean["binned"]
    out["struct_assembly_s"] = mean["struct"] - mean["binned"]
    out["struct_to_wire_s"] = mean["wire"] - mean["struct"]
    out["sink_s"] = mean["parquet"] - mean["wire"]
    return out
