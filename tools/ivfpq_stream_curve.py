#!/usr/bin/env python
"""Measured multi-batch cost curve for the streaming IVFADC
incremental-add fold (r13 verdict task 5 — the ivfpq_stream twin of
``kmv_stream_curve.py``).

``streaming/ivfpq_stream.py`` encodes each micro-batch of vectors
against the FROZEN index artifacts and folds the codes into the
persisted code table.  The 100 TB claim: per-batch cost is the batch's
own assign+encode against the frozen index, plus a merge whose only
growing input is the accumulated code table (M_SUB rows per ingested
vector) — the AT-REST CORPUS never participates beyond its frozen
artifacts.  This tool measures both axes:

- batches axis: drain B one-file micro-batches of fixed-size vector
  deltas; per-batch cost = wall / B.  Expect ~flat with a mild upward
  drift from the distinct over the linearly-growing state (the honest
  cost the module docstring prices; deployments append per cell
  partition instead).
- corpus axis: the same drain with the state PRE-SEEDED from at-rest
  corpora of growing size — per-batch cost must not scale with the
  at-rest corpus beyond that state-merge term.

TIMING-SENSITIVE: run on a quiet host.  Usage:
python tools/ivfpq_stream_curve.py >> SCALE.md
"""

from __future__ import annotations

import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WORK = "/tmp/ivfpq_stream_curve"
VECS_PER_BATCH = 400
DIM = 64

BATCHES = [4, 8, 16]
SEED_VECS = [0, 20_000]


def pyloop() -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(10_000_000):
        x += i * i
    return round(time.perf_counter() - t0, 3)


def _synthetic_vecs(spark, n: int, base: int):
    """Deterministic synthetic unit-ish vectors (hash-derived coords in
    [-0.5, 0.5), the fixture's coordinate envelope)."""
    from pyspark.sql import functions as F

    return spark.range(n).select(
        (F.col("id") + base).alias("vec_id"),
        F.expr(
            f"transform(sequence(1, {DIM}), i -> "
            "cast(pmod(hash(id * 7919 + i * 131), 1000000) / 1000000.0 "
            "- 0.5 as float))"
        ).alias("embedding"),
    )


def build_landing(spark, batches: int) -> str:
    out = f"{WORK}/landing_b{batches}"
    if os.path.isdir(out):
        return out
    os.makedirs(out)
    for b in range(batches):
        df = _synthetic_vecs(spark, VECS_PER_BATCH,
                             10_000_000 + b * VECS_PER_BATCH)
        staging = f"{WORK}/stage"
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        part = next(f for f in os.listdir(staging)
                    if f.startswith("part-") and f.endswith(".parquet"))
        fpath = os.path.join(out, f"batch_{b:03d}.parquet")
        os.rename(os.path.join(staging, part), fpath)
        t = 1_700_000_000 + b
        os.utime(fpath, (t, t))
    return out


def main() -> None:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from star_schema_etl_airflow_spark.plans.ivfpq import build_index
    from star_schema_etl_airflow_spark.plans.pq import _SV_S, _np_encode
    from star_schema_etl_airflow_spark.session import get_spark
    from star_schema_etl_airflow_spark.streaming.ivfpq_stream import (
        run_ivfpq_stream,
    )

    spark = get_spark("ivfpq-stream-curve")
    spark.sparkContext.setLogLevel("ERROR")
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    # the frozen index from the real sf0.001 fixture (index version 0)
    fix = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", F.expr(_SV_S).alias("sv"))
    index = build_index(fix.collect())

    cal = [pyloop()]
    rows = []
    for seed_n in SEED_VECS:
        for b in BATCHES:
            landing = build_landing(spark, b)
            run_dir = f"{WORK}/run_b{b}_n{seed_n}"
            if os.path.isdir(run_dir):
                shutil.rmtree(run_dir)
            os.makedirs(run_dir)
            state = os.path.join(run_dir, "codes")
            if seed_n:
                at = _synthetic_vecs(spark, seed_n, 20_000_000).select(
                    F.col("vec_id").alias("cand_id"),
                    F.expr(_SV_S).alias("sv"),
                )
                _np_encode(at, index).write.mode("overwrite").parquet(state)
            t0 = time.perf_counter()
            final = run_ivfpq_stream(
                spark, landing, state, schema, index
            )
            wall = time.perf_counter() - t0
            n_state = final.count()
            rows.append((seed_n, b, round(wall, 2), round(wall / b, 3),
                         n_state))
            print(f"  seed={seed_n} batches={b}: total {wall:.1f}s, "
                  f"per-batch {wall / b:.2f}s, state {n_state} rows",
                  file=sys.stderr)
        cal.append(pyloop())

    print()
    print("## Streaming IVFADC incremental add: batches × at-rest-state "
          "cost curve (r14)")
    print()
    print("`run_ivfpq_stream` drains B one-file micro-batches of "
          f"{VECS_PER_BATCH} vectors")
    print("against frozen artifacts; rows marked seed=N start from a "
          "pre-seeded")
    print("at-rest code table of N vectors (the corpus axis).  "
          f"host_pyloop {cal}")
    print()
    print("| seeded at-rest vectors | batches | total | per-batch | "
          "state rows |")
    print("|---|---|---|---|---|")
    for seed_n, b, total, per, n_state in rows:
        print(f"| {seed_n} | {b} | {total}s | {per}s | {n_state} |")


if __name__ == "__main__":
    main()
