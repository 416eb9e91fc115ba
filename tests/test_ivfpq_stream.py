"""Streaming IVFADC incremental add (streaming/ivfpq_stream.py): the
folded code table must equal the one-shot encode of everything
ingested under any batching, re-delivery must be a no-op, and search
over the folded state must be bit-identical to the batch incremental
query (itself rebuild-oracle-proven)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from star_schema_etl_airflow_spark.functions.caching import persist_once
from star_schema_etl_airflow_spark.plans.ivfpq import (
    IVFPQ_ADD_CUT,
    build_index,
    embed_ivfpq_incremental,
)
from star_schema_etl_airflow_spark.plans.pq import (
    N_QUERIES,
    _adc_topk,
    _np_encode,
    _SV_S,
)
from star_schema_etl_airflow_spark.streaming.ivfpq_stream import (
    merge_codes,
    run_ivfpq_stream,
    search_state,
)

SF_DIR = "/root/testdata/sf0.001"
SRC_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
])


def _frozen(spark):
    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", F.expr(_SV_S).alias("sv"))
    )
    # the index is trained on the at-rest corpus only
    index = build_index(emb.filter(F.col("vec_id") < IVFPQ_ADD_CUT).collect())
    at_rest = emb.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < IVFPQ_ADD_CUT)
    ).withColumnRenamed("vec_id", "cand_id")
    at_codes = persist_once(_np_encode(at_rest, index))
    return emb, index, at_codes


def _stage_delta(spark, tmp_path, n_batches, name="landing"):
    """The >= IVFPQ_ADD_CUT vector band as n landing files."""
    delta = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") >= IVFPQ_ADD_CUT)
    )
    landing = str(tmp_path / name)
    os.makedirs(landing)
    for i in range(n_batches):
        staging = str(tmp_path / f"stage_{name}_{i}")
        delta.filter(F.col("vec_id") % n_batches == i) \
            .coalesce(1).write.mode("overwrite").parquet(staging)
        part = next(
            f for f in os.listdir(staging)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        os.rename(os.path.join(staging, part),
                  os.path.join(landing, f"batch_{i}.parquet"))
    return delta, landing


def _code_set(df):
    return {(r.cand_id, r.cell, r.m, r.code) for r in df.collect()}


def test_folded_codes_equal_oneshot_encode_and_batching_independent(
    spark, tmp_path
):
    emb, index, _ = _frozen(spark)
    delta, landing3 = _stage_delta(spark, tmp_path, 3, "landing3")
    _, landing1 = _stage_delta(spark, tmp_path, 1, "landing1")
    s3 = run_ivfpq_stream(
        spark, landing3, str(tmp_path / "st3"), SRC_SCHEMA, index
    )
    s1 = run_ivfpq_stream(
        spark, landing1, str(tmp_path / "st1"), SRC_SCHEMA, index
    )
    want = _code_set(_np_encode(
        delta.select(
            F.col("vec_id").alias("cand_id"), F.expr(_SV_S).alias("sv")
        ),
        index,
    ))
    assert _code_set(s3) == want
    assert _code_set(s1) == want


def test_redelivery_is_a_noop(spark):
    emb, index, _ = _frozen(spark)
    delta = emb.filter(F.col("vec_id") >= IVFPQ_ADD_CUT).withColumnRenamed(
        "vec_id", "cand_id"
    )
    codes = _np_encode(delta, index)
    once = merge_codes(None, codes)
    twice = merge_codes(once, codes)
    assert _code_set(once) == _code_set(twice)


def test_search_over_folded_state_equals_batch_incremental(spark, tmp_path):
    """fold ≡ batch: _adc_scores over (at-rest codes ∪ streamed state)
    must reproduce embed_ivfpq_incremental row-for-row — and that query
    shares the full-rebuild oracle, closing stream ≡ batch ≡ rebuild."""
    _, index, at_codes = _frozen(spark)
    _, landing = _stage_delta(spark, tmp_path, 3, "landing_s")
    state = run_ivfpq_stream(
        spark, landing, str(tmp_path / "st_s"), SRC_SCHEMA, index
    )
    adc, _ = search_state(spark, SF_DIR, state, at_rest_codes=at_codes)
    got = {tuple(r) for r in _adc_topk(adc).collect()}
    want = {tuple(r) for r in embed_ivfpq_incremental(spark, SF_DIR).collect()}
    assert got == want


def test_empty_landing_yields_empty_code_table(spark, tmp_path):
    _, index, _ = _frozen(spark)
    landing = str(tmp_path / "landing_empty")
    os.makedirs(landing)
    state = run_ivfpq_stream(
        spark, landing, str(tmp_path / "st_e"), SRC_SCHEMA, index
    )
    assert state.count() == 0
    assert [f.name for f in state.schema.fields] == [
        "cand_id", "cell", "m", "code"
    ]
