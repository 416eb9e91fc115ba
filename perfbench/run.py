#!/usr/bin/env python3
"""Benchmark harness for the star-schema engine.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0

Runs one workload in one process with one closed-loop client (the next
operation starts when the previous one has finished) on a
``local[nproc]`` Spark session, checks the outputs, and prints one JSON
object as the last line of standard output.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` makes the per-layer run: the timed loop
untraced for half the seconds, then again for the other half on a second
session with the Spark event log on and every operation, pipeline stage,
builder and sink wrapped in a span that tags its Spark jobs with a job
group.  See README.md beside this file.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "star_schema_etl_airflow_spark"

LLM_QUERIES = (
    "kmeans_assign", "embed_topk_cosine", "dedup_minhash_lsh", "dedup_prefix_join",
    "embed_jl_rerank", "decontam_pairs", "curation_pipeline", "dedup_substring_excised",
    "curation_pipeline_v5", "video_frames", "flac_decoded", "ngram_lm_score",
    "cms_heavy_hitters",
)
# llm_ops times the sf0.1 fixture shape with 1,000 documents instead of 5,000
# (the benchmark's schedule of runs has a fixed time budget) and checks a
# companion in the sf0.01 shape from the same seed, with 100 documents and
# embeddings instead of 500: the DuckDB oracles of the dedup and rerank
# queries take 27 s at 500, 6 s at 100.
TIMED_FIXTURE = {"sf": 0.1, "n_docs": 1000, "n_vecs": 2000}
CHECK_FIXTURE = {"sf": 0.01, "n_docs": 100, "n_vecs": 100}
ETL_SHAPE = {"customers": 50_000, "products": 2_000, "orders_per_day": 20_000,
             "change_frac": 0.02, "reprice_frac": 0.05}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --- run context -------------------------------------------------------------

def ncpu() -> int:
    return len(os.sched_getaffinity(0))


def host_canary_s() -> float:
    """Seconds for a fixed single-core Python loop: host speed, as context."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return time.perf_counter() - t0


def source_version() -> dict:
    """Commit of the checkout when it is a git repository, and a hash of
    the package sources either way."""
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha1()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        for name in sorted(f for f in files if f.endswith(".py")):
            with open(os.path.join(d, name), "rb") as f:
                h.update(name.encode() + f.read())
    return {"commit": commit, "source_sha1": h.hexdigest()}


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, rss bytes) for every visible process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(name)] = (int(fields[1]), int(fields[21]) * page)
    return out


def child_rss_bytes() -> int:
    """Resident memory of every descendant of this process: the driver
    JVM and the Python workers it forks."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        total += table[pid][1]
        todo.extend(children.get(pid, []))
    return total


class RssSampler:
    """Samples :func:`child_rss_bytes` on a thread while ``measuring``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self.measuring = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self.measuring:
                self.peak = max(self.peak, child_rss_bytes())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False


# --- Spark session -----------------------------------------------------------

class Sessions:
    """Starts and stops the Spark sessions of one run, keeping every
    temporary file under the run's work directory."""

    def __init__(self, work: str):
        self.work = work
        self.tmp = os.path.join(work, "tmp")
        self.events = os.path.join(work, "eventlog")
        for d in (self.tmp, self.events):
            os.makedirs(d, exist_ok=True)
        self.spark = None
        self._proc = None

    def start(self, event_log: bool = False):
        from star_schema_etl_airflow_spark.session import get_spark

        # defaultJavaOptions goes before the program's extraJavaOptions,
        # so get_spark's own JVM flags and heap stay in force
        conf = {
            "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            conf |= {"spark.eventLog.enabled": "true", "spark.eventLog.dir": self.events,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"}
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=f"local[{ncpu()}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t0
        from pyspark import SparkContext

        self._proc = getattr(SparkContext._gateway, "proc", None)
        return self.spark, start_s

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, the gateway and the JVM, and wait for them."""
        self.stop_session()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except Exception as exc:  # the JVM may already be gone
                log(f"gateway shutdown: {exc!r}")
            SparkContext._gateway = None
            SparkContext._jvm = None
        proc = self._proc
        if proc is not None and proc.poll() is None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def cache_bytes(spark) -> int:
    """Bytes the session's cached relations hold in memory and on disk."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


def sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- timed loop ----------------------------------------------------------------

class Loop:
    """Closed-loop operation timings and failures of one run half."""

    def __init__(self):
        self.latencies: list[float] = []
        self.by_name: dict[str, list[float]] = {}
        self.failed = 0
        self.wall_s = 0.0  # timed loop wall time, less the harness's own work

    @contextmanager
    def op(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        except Exception as exc:  # a failed operation is counted, not fatal
            self.failed += 1
            log(f"operation {name} failed: {exc!r}"[:2000])
            return
        dt = time.perf_counter() - t0
        self.latencies.append(dt)
        self.by_name.setdefault(name, []).append(dt)

    @property
    def attempted(self) -> int:
        return len(self.latencies) + self.failed


def median(values: list[float]) -> float:
    """Harrell-Davis estimate of the median: the order statistics weighted
    by a Beta((n+1)/2, (n+1)/2) distribution.  An ``llm_ops`` pass times 13
    different queries, and the plain sample median is whichever sorts
    seventh, which changes from run to run; this estimate moves smoothly
    between neighbours.  For one or two values it is the sample median."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    a = (len(x) + 1) / 2
    t = np.linspace(0.0, 1.0, 20_001)
    pdf = (t * (1.0 - t)) ** (a - 1.0)
    cdf = np.concatenate([[0.0], np.cumsum(pdf[1:] + pdf[:-1])])
    weights = np.diff(np.interp(np.arange(len(x) + 1) / len(x), t, cdf / cdf[-1]))
    return float(weights @ x)


def end_to_end(loop: Loop, setup_s: float) -> dict:
    lat = loop.latencies
    return {
        "setup_s": (setup_s, "s"),
        "op_s.p50": (median(lat) if lat else 0.0, "s"),
        "ops_per_min": (60.0 * len(lat) / loop.wall_s if lat else 0.0, "1/min"),
    }


# --- llm_ops -----------------------------------------------------------------

class LlmWorkload:
    """``llm_ops``: the LLM-data headline queries through the noop sink at
    the timed fixture, order shuffled by the seed on each pass.

    The session cache is emptied before every operation, so each query
    rebuilds the persisted relations it uses as a new corpus would
    require.  Clearing once per pass instead makes whichever member of a
    family sharing a relation runs first pay for it, and per-query
    latencies then depend on the shuffled order.
    """

    names = LLM_QUERIES
    checks = len(LLM_QUERIES)  # one checked execution per query
    min_rounds = 1  # passes a run times at least

    def setup(self, run) -> float:
        import gen

        t0 = time.perf_counter()
        self.timed_dir = os.path.join(run.work, "fixture")
        self.check_dir = os.path.join(run.work, "fixture_check")
        gen.write_fixture(self.timed_dir, run.seed, **TIMED_FIXTURE)
        gen.write_fixture(self.check_dir, run.seed + 1_000_003, **CHECK_FIXTURE)
        run.phases["gen_s"] = time.perf_counter() - t0
        from star_schema_etl_airflow_spark import registry

        self.specs = {s.name: s for s in registry.specs() if s.name in self.names}
        spark, run.phases["start_s"] = run.sessions.start()
        # warmup: one execution of every query on the check fixture, which
        # is also the execution checked against the oracle
        self.results = {}
        for name in self.names:
            t0 = time.perf_counter()
            try:
                self.results[name] = self.specs[name].fn(spark, self.check_dir).toPandas()
            except Exception as exc:
                log(f"check execution of {name} failed: {exc!r}"[:2000])
            run.phases[f"warmup_s.{name}"] = time.perf_counter() - t0
        return sum(run.phases.values())

    def check(self, run) -> list[str]:
        import check

        oracle = check.oracle_signatures(self.check_dir, list(self.names))
        errors = []
        for name in self.names:
            if name not in self.results:
                errors.append(f"{name}: check execution failed")
                continue
            bad = check.mismatch(check.signature(self.results[name]), oracle[name])
            if bad:
                errors.append(f"{name}: {bad}")
        return errors

    def timed(self, run, spark, loop: Loop, seconds: float, min_rounds: int,
              tracer=None, per_op=None) -> None:
        rng = random.Random(run.seed)
        t0 = time.perf_counter()
        passes = 0
        while passes < min_rounds or time.perf_counter() - t0 < seconds:  # whole passes
            order = list(self.names)
            rng.shuffle(order)
            for name in order:
                spark.catalog.clearCache()
                fn = self.specs[name].fn
                if tracer is None:
                    with loop.op(name):
                        sink(fn(spark, self.timed_dir))
                    continue
                with loop.op(name), tracer.span(name, "operation") as op:
                    with tracer.span("build", "build") as b:
                        df = fn(spark, self.timed_dir)
                    with tracer.span("sink", "sink") as s:
                        sink(df)
                    per_op.append({"op": op, "build": b, "sink": s})
                run.cache_samples.append(cache_bytes(spark))
            passes += 1
        loop.wall_s += time.perf_counter() - t0

    def layers(self, run, tracer, per_span, per_op) -> dict:
        m = {}
        n = max(1, len(per_op))
        m["query.build_s"] = sum(o["build"]["end"] - o["build"]["start"] for o in per_op) / n
        m["query.build_jobs"] = sum(per_span.get(o["build"]["id"], {}).get("jobs", 0) for o in per_op) / n
        plans = [per_span[o["sink"]["id"]]["sql_start"] - o["sink"]["start"] for o in per_op
                 if per_span.get(o["sink"]["id"], {}).get("sql_start") is not None]
        m["query.plan_s"] = sum(plans) / len(plans) if plans else 0.0
        m.update(mean_rollups(tracer, per_span, [o["op"]["id"] for o in per_op]))
        return m


# --- etl_daily ---------------------------------------------------------------

STAGES = ("customers", "order_items", "orders", "products", "dim_customers",
          "dim_dates", "dim_products", "fact_orders", "sales_summary", "customer_analytics")
WAREHOUSE_LAYERS = ("raw", "core", "datamart")


def warehouse_files(base: str) -> dict[str, tuple[int, int]]:
    out = {}
    for layer in WAREHOUSE_LAYERS:
        for d, _, files in os.walk(os.path.join(base, layer)):
            for name in files:
                p = os.path.join(d, name)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(before: dict, after: dict, base: str) -> dict:
    """Files, bytes and parquet rows per table written between snapshots."""
    import pyarrow.parquet as pq

    out = {"files": 0, "bytes": 0, "rows": {}}
    for p, sig in after.items():
        if before.get(p) == sig:
            continue
        out["files"] += 1
        out["bytes"] += sig[0]
        if p.endswith(".parquet"):
            table = os.path.relpath(p, base).split(os.sep)[1]
            out["rows"][table] = out["rows"].get(table, 0) + pq.ParquetFile(p).metadata.num_rows
    return out


class EtlWorkload:
    """``etl_daily``: the audited sales pipeline once per run date on a
    fresh warehouse; the bootstrap date is part of set-up."""

    checks = 1  # the warehouse against the landing ledger
    min_rounds = 2  # dates a run times at least

    def setup(self, run) -> float:
        import gen
        from star_schema_etl_airflow_spark.plans.sales_domain import SalesWarehouse
        from star_schema_etl_airflow_spark.sources.schema import load_config

        self.base = os.path.join(run.work, "warehouse")
        self.cfg = load_config(os.path.join(ROOT, "config", "sales_config.yaml"))
        t0 = time.perf_counter()
        self.landing = gen.SalesLanding(self.base, self.cfg, run.seed, **ETL_SHAPE)
        self.landing.land()
        run.phases["gen_s"] = time.perf_counter() - t0
        spark, run.phases["start_s"] = run.sessions.start()
        self.ingested: dict[str, int] = {}
        self.retries = 0
        t0 = time.perf_counter()
        self._run_date(spark, SalesWarehouse(spark, self.base, self.cfg), self.landing.days[0])
        run.phases["bootstrap_s"] = time.perf_counter() - t0
        return sum(run.phases.values())

    def _run_date(self, spark, wh, day: dict, tracer=None) -> None:
        from star_schema_etl_airflow_spark.plans.pipeline import run_audited
        from star_schema_etl_airflow_spark.plans.sales_domain import build_sales_pipeline

        pipeline = build_sales_pipeline(wh)
        if tracer is not None:
            for stage in pipeline.stages.values():
                stage.fn = _traced_stage(tracer, stage.name, stage.fn)

        def on_retry(ctx):
            self.retries += 1

        results, _ = run_audited(pipeline, spark, day["run_date"], on_retry=on_retry)
        for table in day["rows"]:
            self.ingested[table] = self.ingested.get(table, 0) + int(results[table])

    def timed(self, run, spark, loop: Loop, seconds: float, min_rounds: int,
              tracer=None, per_op=None) -> None:
        from star_schema_etl_airflow_spark.plans.sales_domain import SalesWarehouse

        wh = SalesWarehouse(spark, self.base, self.cfg)
        t0 = time.perf_counter()
        landing_s = 0.0
        dates = 0
        before = warehouse_files(self.base) if tracer is not None else None
        while dates < min_rounds or time.perf_counter() - t0 < seconds:
            t_land = time.perf_counter()
            day = self.landing.land()  # landing is the operation's input, untimed
            landing_s += time.perf_counter() - t_land
            dates += 1
            if tracer is None:
                with loop.op(day["run_date"]):
                    self._run_date(spark, wh, day)
                continue
            with _timed_writers(tracer) as writes, loop.op(day["run_date"]), \
                    tracer.span(day["run_date"], "operation") as op:
                self._run_date(spark, wh, day, tracer)
            after = warehouse_files(self.base)
            per_op.append({"op": op, "day": day, "writes": writes,
                           "written": written_since(before, after, self.base)})
            before = after
            run.cache_samples.append(cache_bytes(spark))
        loop.wall_s += time.perf_counter() - t0 - landing_s

    def check(self, run) -> list[str]:
        import check

        return check.check_warehouse(self.base, self.landing.days, self.ingested)

    def layers(self, run, tracer, per_span, per_op) -> dict:
        from spans import rollup

        n = max(1, len(per_op))
        m = {}
        stage_total = 0.0
        for st in STAGES:
            spans = [s for o in per_op for s in tracer.spans
                     if s["parent"] == o["op"]["id"] and s["name"] == st]
            dur = [s["end"] - s["start"] for s in spans]
            stage_total += sum(dur)
            jobs, busy = 0.0, 0.0
            for s in spans:
                r = rollup(tracer, per_span, s["id"])
                jobs += r["exec.jobs"]
                busy += r["exec.wall_s"]
            m[f"pipeline.stage_s.{st}"] = sum(dur) / n
            m[f"pipeline.self_s.{st}"] = (sum(dur) - busy) / n
            m[f"pipeline.jobs.{st}"] = jobs / n
        day_total = sum(o["op"]["end"] - o["op"]["start"] for o in per_op)
        m["pipeline.stage_coverage"] = stage_total / day_total if day_total else 0.0
        m["pipeline.retries"] = float(self.retries)
        landed = sum(sum(o["day"]["rows"].values()) for o in per_op)
        landed_bytes = sum(o["day"]["landed_bytes"] for o in per_op)
        written = [o["written"] for o in per_op]
        m["io.rows_in"] = landed / n
        m["io.rows_dropped"] = float(sum(sum(d["rows"].values()) for d in self.landing.days)
                                     - sum(self.ingested.values()))
        m["io.bytes_written"] = sum(w["bytes"] for w in written) / n
        m["io.files_written"] = sum(w["files"] for w in written) / n
        m["io.write_s"] = sum(sum(w["end"] - w["start"] for w in o["writes"]) for o in per_op) / n
        m["io.bytes_written_per_input_byte"] = (
            sum(w["bytes"] for w in written) / landed_bytes if landed_bytes else 0.0)
        dims = ("dim_customers", "dim_products")
        m["scd2.versions_inserted"] = sum(
            o["day"]["customer_versions"] + o["day"]["product_versions"] for o in per_op) / n
        m["scd2.dim_rows_rewritten"] = sum(w["rows"].get(d, 0) for w in written for d in dims) / n
        fact_new = sum(o["day"]["fact_rows"] for o in per_op)
        m["merge.rewrite_ratio"] = (
            sum(w["rows"].get("fact_orders", 0) for w in written) / fact_new if fact_new else 0.0)
        plans = [per_span[w["id"]]["sql_start"] - w["start"] for o in per_op for w in o["writes"]
                 if per_span.get(w["id"], {}).get("sql_start") is not None]
        m["query.plan_s"] = sum(plans) / n
        m.update(mean_rollups(tracer, per_span, [o["op"]["id"] for o in per_op]))
        return m


def _traced_stage(tracer, name, fn):
    def stage_fn(spark, run_date, results):
        with tracer.span(name, "stage"):
            return fn(spark, run_date, results)
    return stage_fn


@contextmanager
def _timed_writers(tracer):
    """Wrap the warehouse writers of ``sources.io`` in ``write`` spans for
    the duration of one traced date; yields the list of write spans."""
    from star_schema_etl_airflow_spark.sources import io as sio

    names = ("write_swap", "write_partition_overwrite", "write_full_overwrite", "write_append")
    originals = {n: getattr(sio, n) for n in names}
    writes: list[dict] = []

    def wrap(name, fn):
        def writer(*args, **kwargs):
            with tracer.span(name, "write") as s:
                writes.append(s)
                return fn(*args, **kwargs)
        return writer

    for n, fn in originals.items():
        setattr(sio, n, wrap(n, fn))
    try:
        yield writes
    finally:
        for n, fn in originals.items():
            setattr(sio, n, fn)


def mean_rollups(tracer, per_span, op_ids: list[int]) -> dict:
    from spans import EXEC_FIELDS, PY_METRICS, rollup

    keys = ("exec.jobs", "exec.wall_s", *EXEC_FIELDS, *PY_METRICS.values())
    total = dict.fromkeys(keys, 0.0)
    for i in op_ids:
        r = rollup(tracer, per_span, i)
        for k in keys:
            total[k] += r[k]
    n = max(1, len(op_ids))
    out = {k: v / n for k, v in total.items()}
    out["exec.parallelism"] = total["exec.task_s"] / total["exec.wall_s"] if total["exec.wall_s"] else 0.0
    return out


WORKLOADS = {
    "etl_daily": EtlWorkload,
    "llm_ops": LlmWorkload,
}


# --- main --------------------------------------------------------------------

class Run:
    def __init__(self, args, work: str):
        self.workload = args.workload
        self.seed = args.seed
        self.work = work
        self.sessions = Sessions(work)
        self.phases: dict[str, float] = {}  # set-up and run phase times, as context
        self.cache_samples: list[int] = []


def traced_half(run, wl, loop: Loop, seconds: float) -> dict:
    """Second session with the event log on; the same timed loop with
    spans; returns the per-layer metrics."""
    from spans import Tracer, attach_jobs, event_log_file, read_event_log

    run.sessions.stop_session()
    spark, _ = run.sessions.start(event_log=True)
    app_id = spark.sparkContext.applicationId
    tracer = Tracer(f"{run.workload}-{run.seed}", spark)
    per_op: list[dict] = []
    run.cache_samples.clear()
    with tracer.span(run.workload, "workload"):
        wl.timed(run, spark, loop, seconds, 1, tracer, per_op)
    run.sessions.stop_session()  # flushes the event log
    per_span = attach_jobs(tracer, read_event_log(event_log_file(run.sessions.events, app_id)))
    tracer.export(os.path.join(HERE, ".work", "traces", f"{run.workload}-seed{run.seed}.jsonl"))
    return wl.layers(run, tracer, per_span, per_op)


def per_layer_metrics(run, untraced: Loop, traced: Loop, layers: dict, peak_rss: int) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer"]
    values = {"session.start_s": run.phases["start_s"],
              "peak_rss_mb": peak_rss / 2 ** 20,
              "cache.bytes": statistics.mean(run.cache_samples) if run.cache_samples else 0.0,
              "trace.overhead_s": (median(traced.latencies) - median(untraced.latencies)
                                   if traced.latencies and untraced.latencies else 0.0)}
    for name, lat in untraced.by_name.items():
        values[f"query.op_s.{name}"] = statistics.median(lat)
    values.update(layers)
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in spec}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"no {PACKAGE} package in {ROOT}; run from a checkout of the repository")
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # Python workers import the package; temporary files stay in the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu())
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    context = {"workload": args.workload, "seed": args.seed, "nproc": ncpu(),
               "host_canary_s": host_canary_s(), **source_version()}
    run = Run(args, work)
    wl = WORKLOADS[args.workload]()
    try:
        with RssSampler() as rss:
            setup_s = wl.setup(run)
            loop = Loop()
            rss.measuring = True
            t0 = time.perf_counter()
            # a traced run splits its time between an untraced and a traced half
            seconds = args.seconds / 2 if args.trace else args.seconds
            wl.timed(run, run.sessions.spark, loop, seconds, 1 if args.trace else wl.min_rounds)
            run.phases["timed_s"] = time.perf_counter() - t0
            rss.measuring = False
            layers = traced = None
            if args.trace:
                traced = Loop()
                layers = traced_half(run, wl, traced, seconds)
        t0 = time.perf_counter()
        errors = wl.check(run)
        run.phases["check_s"] = time.perf_counter() - t0
    finally:
        run.sessions.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        log(f"check failed: {e}")
    context["host_canary_s_after"] = host_canary_s()
    context["errors"] = errors
    attempted = loop.attempted + wl.checks
    failed = loop.failed + len(errors)
    if traced is not None:
        attempted += traced.attempted
        failed += traced.failed
    context["error_rate"] = failed / attempted
    if args.trace:
        metrics = per_layer_metrics(run, loop, traced, layers, rss.peak)
    else:
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in end_to_end(loop, setup_s).items()}
    context["ops"] = {n: [round(x, 3) for x in v] for n, v in loop.by_name.items()}
    context["phases"] = {k: round(v, 3) for k, v in run.phases.items()}
    context["wall_s"] = time.perf_counter() - T_START
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
