"""DDSketch benchmark: one workload per run, end to end or traced.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` measures the per-layer metrics (and its own tracing
overhead). ``--workload all`` runs the three workloads one after another.
The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
SETUP_REPS = 3
WATCHDOG_S = 170

END_TO_END_UNITS = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}

PER_LAYER_UNITS = {
    "driver.plan_build_ms": "ms",
    "driver.jobs_in_build": "count",
    "driver.jobs_per_op": "count",
    "driver.stages_per_op": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_records": "count",
    "spark.spill_bytes": "B",
    "spark.tasks": "count",
    "spark.straggler_ratio": "ratio",
    "spark.sink_s": "s",
    "native.binned_counts_s": "s",
    "native.struct_assembly_s": "s",
    "native.struct_to_wire_s": "s",
    "native.binned_rows": "count",
    "native.partial_agg_ratio": "ratio",
    "python.run_s": "s",
    "python.init_s": "s",
    "python.bytes_sent": "B",
    "python.bytes_returned": "B",
    "python.tasks": "count",
    "sketch.decode_us": "us",
    "sketch.encode_us": "us",
    "sketch.merge_us": "us",
    "sketch.quantile_us": "us",
    "sketch.bins_per_sketch": "count",
    "sketch.wire_bytes": "B",
    "setup.session_s": "s",
    "setup.data_s": "s",
    "setup.warmup_s": "s",
    "trace.overhead_ms": "ms",
}


def spark_conf(nproc: int, work: Path) -> dict:
    """The fixed Spark configuration; every record carries it."""
    return {
        "spark.master": f"local[{nproc}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": "1g",
        "spark.sql.shuffle.partitions": str(nproc),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.python.worker.reuse": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} -Xms1g -XX:+AlwaysPreTouch"
        ),
    }


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1]) of a non-empty list."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


class Bench:
    """One benchmark process: the Spark session it owns and its settings."""

    def __init__(self, size_name: str = "full"):
        self.size_name = size_name
        self.nproc = len(os.sched_getaffinity(0))
        self.conf = spark_conf(self.nproc, WORK)
        self.spark = None

    def start_session(self):
        """Launch the JVM and start the session (once per process)."""
        if self.spark is not None:
            return self.spark
        t0 = time.perf_counter()
        from pyspark.sql import SparkSession

        from duckdb_ddsketch_spark import register_ddsketch_functions

        builder = SparkSession.builder
        for k, v in self.conf.items():
            builder = builder.config(k, v)
        self.spark = builder.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        register_ddsketch_functions(self.spark)
        self.session_s = time.perf_counter() - t0
        return self.spark

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and the Python workers it owns)
        to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    # -- one workload -----------------------------------------------------

    def setup(self, cls, seed: int) -> tuple:
        """Start the session, generate the workload's inputs SETUP_REPS
        times (keeping the last), then warm up with one operation.

        ``setup_s`` is session start + the median input generation + the
        warm-up. The warm-up runs once: it pays the first operation's cold
        costs (codegen, JIT, Python worker start), which a second warm-up
        in the same JVM would not see.
        """
        from workloads import SIZES

        spark = self.start_session()
        data = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl = cls(spark, WORK, ROOT, seed, SIZES[self.size_name][cls.name])
            wl.setup()
            data.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        warmup_ops = wl.warmup()
        setup = {
            "session_s": self.session_s,
            "data_s": statistics.median(data),
            "data_reps_s": data,
            "warmup_s": time.perf_counter() - t0,
            "warmup_ops_s": warmup_ops,
        }
        setup["setup_s"] = setup["session_s"] + setup["data_s"] + setup["warmup_s"]
        return wl, setup

    def loop(self, wl, seconds: float, reader=None) -> list[dict]:
        """Closed loop, one client: run operations until ``seconds`` have
        passed. With a reader, every second operation is traced: it runs in
        its own job group and its stage and SQL metrics are read after the
        action. Interleaving gives traced and untraced operations the same
        JIT warmth and the same neighbours on the box."""
        sc = wl.spark.sparkContext
        ops = []
        t_end = time.perf_counter() + seconds
        i = 1
        while len(ops) < (2 if reader else 1) or time.perf_counter() < t_end:
            group = f"perfbench-op-{i}"
            traced = reader is not None and i % 2 == 0
            op = {"i": i, "ok": True, "output": None, "traced": traced}
            if traced:
                reader.forget_executions()
                sc.setJobGroup(group, f"{wl.name}:op{i}", False)
            t0 = time.perf_counter()
            try:
                planned = wl.plan(i)
                t1 = time.perf_counter()
                if traced:
                    op["jobs_in_build"] = len(reader.job_ids(group))
                op["output"] = wl.execute(planned)
            except Exception as e:  # a failed operation is counted, not fatal
                print(f"operation {i} failed: {e!r}", file=sys.stderr)
                op["ok"] = False
                t1 = time.perf_counter()
            t2 = time.perf_counter()
            op["build_s"], op["latency_s"] = t1 - t0, t2 - t0
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                if op["ok"]:
                    op["stages"] = reader.stage_metrics(group)
                    op["python"] = reader.python_metrics(group, op["stages"]["tasks_by_stage"])
            ops.append(op)
            i += 1
        return ops

    def run(self, name: str, seed: int, seconds: float, trace: bool) -> dict:
        from probes import (RssSampler, StatusReader, cpu_canary_ms, cpu_ticks,
                            load_average, steal_share)
        from workloads import WORKLOADS

        cls = WORKLOADS[name]
        record = {"workload": name, "seed": seed, "seconds": seconds, "trace": int(trace),
                  "load_before": load_average(), "canary_ms": cpu_canary_ms()}
        wl, setup = self.setup(cls, seed)
        record["setup"] = setup
        ticks = cpu_ticks()
        if trace:
            reader = StatusReader(wl.spark)
            ops = self.loop(wl, seconds, reader=reader)
        else:
            with RssSampler(self.jvm_pid()) as rss:
                ops = self.loop(wl, seconds)
            record["peak_rss_mb"] = rss.peak_bytes / 2**20
        record["steal_share"] = steal_share(ticks, cpu_ticks())
        plain = [op for op in ops if not op["traced"]]
        traced = [op for op in ops if op["traced"]]
        done = [op for op in ops if op["ok"]]
        t0 = time.perf_counter()
        verdicts = wl.check([(op["i"], op["output"]) for op in done]) if done else []
        failed = len(ops) - sum(verdicts)
        record["check_s"] = time.perf_counter() - t0
        record.update(
            correct=failed == 0, attempted=len(ops), failed=failed,
            items_per_op=wl.items_per_op(), item=wl.item,
        )
        lat = [op["latency_s"] for op in plain]
        record["latencies_ms"] = [round(x * 1e3, 1) for x in lat]
        p50 = statistics.median(lat)
        e2e = {
            "setup_s": setup["setup_s"],
            "items_per_s": wl.items_per_op() / p50,
            "op_p50_ms": p50 * 1e3,
            "op_p90_ms": quantile(lat, 0.9) * 1e3,
        }
        if not trace:
            e2e["peak_rss_mb"] = record["peak_rss_mb"]
        record["end_to_end"] = e2e
        record["named"] = named_metrics(wl, e2e, record, len(lat))
        if trace:
            layers = per_layer(wl, traced, setup, reader)
            layers["trace.overhead_ms"] = (
                statistics.median(op["latency_s"] for op in traced) - p50
            ) * 1e3
            record["per_layer"] = layers
            if wl.name == "ingest":
                split = sum(layers[f"native.{k}"] for k in
                            ("binned_counts_s", "struct_assembly_s", "struct_to_wire_s"))
                record["native_split_over_untraced_op"] = split / p50
                record["native_split_and_sink_over_untraced_op"] = (
                    split + layers["spark.sink_s"]
                ) / p50
        record["load_after"] = load_average()
        return record


def named_metrics(wl, e2e: dict, record: dict, samples: int) -> dict:
    """The end-to-end metrics under the names the workloads are cited by."""
    named = {
        "setup_s": (e2e["setup_s"], "s"),
        "failed_ratio": (record["failed"] / record["attempted"], "ratio"),
    }
    if "peak_rss_mb" in e2e:
        named["peak_rss_mb"] = (e2e["peak_rss_mb"], "MB")
    if wl.name == "ingest":
        named["ingest_rows_per_s"] = (e2e["items_per_s"], "rows/s")
    elif wl.name == "rollup":
        named["rollup_sketches_per_s"] = (e2e["items_per_s"], "sketches/s")
    elif wl.name == "point_query":
        named["point_query_p50_ms"] = (e2e["op_p50_ms"], "ms")
        named["point_query_p90_ms"] = (e2e["op_p90_ms"], "ms")
        named["point_query_samples"] = (samples, "count")
    named.update(wl.named_metrics())
    return named


def per_layer(wl, traced: list[dict], setup: dict, reader) -> dict:
    """Per-layer metrics of a traced run (means over the traced operations)."""
    from workloads import native_split, sketch_layer

    ok = [op for op in traced if op["ok"]]

    def mean(fn):
        return statistics.fmean(fn(op) for op in ok) if ok else 0.0

    out = {
        "driver.plan_build_ms": statistics.median(op["build_s"] for op in traced) * 1e3,
        "driver.jobs_in_build": mean(lambda op: op["jobs_in_build"]),
        "driver.jobs_per_op": mean(lambda op: op["stages"]["jobs"]),
        "driver.stages_per_op": mean(lambda op: op["stages"]["stages"]),
    }
    for key in ("executor_run_s", "executor_cpu_s", "shuffle_write_bytes",
                "shuffle_records", "spill_bytes", "tasks", "straggler_ratio"):
        out[f"spark.{key}"] = mean(lambda op: op["stages"][key])
    for key, value in native_split(wl, reader).items():
        out[f"spark.{key}" if key == "sink_s" else f"native.{key}"] = value
    for key in ("run_s", "init_s", "bytes_sent", "bytes_returned", "tasks"):
        out[f"python.{key}"] = mean(lambda op: op["python"][key])
    for key, value in sketch_layer(wl.kernel_blobs()).items():
        out[f"sketch.{key}"] = value
    for key in ("session_s", "data_s", "warmup_s"):
        out[f"setup.{key}"] = setup[key]
    return out


def prepare_environment() -> None:
    """Point Spark, the JVM and the Python workers at this checkout."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    sys.path.insert(0, str(ROOT))


def check_checkout(workloads: list[str]) -> str | None:
    """Why this directory cannot be benchmarked, or None."""
    if not (ROOT / "duckdb_ddsketch_spark" / "__init__.py").is_file():
        return f"no duckdb_ddsketch_spark package under {ROOT}"
    if "point_query" in workloads:
        fixture = ROOT / "tests" / "fixtures" / "production_sketches.jsonl.gz"
        if not fixture.is_file():
            return f"missing {fixture.relative_to(ROOT)}"
    return None


def result_line(records: list[dict], trace: bool) -> dict:
    units = PER_LAYER_UNITS if trace else END_TO_END_UNITS
    key = "per_layer" if trace else "end_to_end"
    multi = len(records) > 1
    metrics = {}
    for rec in records:
        for name, unit in units.items():
            label = f"{rec['workload']}.{name}" if multi else name
            metrics[label] = {"value": rec[key][name], "unit": unit}
    return {
        "correct": all(r["correct"] for r in records),
        "attempted": sum(r["attempted"] for r in records),
        "failed": sum(r["failed"] for r in records),
        "metrics": metrics,
    }


def _watchdog(signum, frame):
    raise TimeoutError(f"benchmark exceeded {WATCHDOG_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "rollup", "point_query", "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    names = ["ingest", "rollup", "point_query"] if args.workload == "all" else [args.workload]
    problem = check_checkout(names)
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    prepare_environment()
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    if args.workload != "all":
        signal.signal(signal.SIGALRM, _watchdog)
        signal.alarm(WATCHDOG_S)
    from probes import machine_state

    bench = Bench()
    records = []
    try:
        for name in names:
            rec = bench.run(name, args.seed, args.seconds, bool(args.trace))
            rec["machine"] = machine_state(bench.spark)
            rec["spark_conf"] = bench.conf
            records.append(rec)
            for metric, (value, unit) in rec["named"].items():
                print(f"{name} {metric} = {value:.6g} {unit}")
            print(json.dumps({"record": rec}, default=str))
    finally:
        signal.alarm(0)
        bench.close()
        shutil.rmtree(WORK / "spark-local", ignore_errors=True)
    print(json.dumps(result_line(records, bool(args.trace))), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
