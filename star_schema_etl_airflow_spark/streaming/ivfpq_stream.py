"""IVFADC incremental add as a streaming job: delta vector batches
land as files and each micro-batch is encoded against the FROZEN index
(coarse cells + residual codebook), its codes folded into the
persisted code table — the arrival-driven twin of
``plans/ivfpq.py::embed_ivfpq_incremental`` (whose batch-side
append-encode is itself rebuild-oracle-proven).

Design notes:
- ``foreachBatch`` over a swap-published code table (the
  kmv/retrieval/drift-stream pattern): the code table IS the state —
  ``M_SUB`` rows per ingested vector, the FAISS inverted lists as a
  queryable relation.
- Exactness of the fold: encoding is PER-VECTOR PURE given the frozen
  index — a vector's (cell, code-per-subspace) row set never depends
  on what else was in its batch — so the folded table equals the
  one-shot encode of everything ever ingested under ANY batching, and
  re-delivery adds only byte-identical rows, which ``distinct``
  collapses (naturally idempotent, like the bottom-K/top-k folds and
  UNLIKE the additive drift counts — no batch-id guard needed).
- Publish is the shared rename-aside swap with ``recover_swap``
  adoption at the top of each micro-batch; a complete code table
  exists at every instant, and search (``search_state``) is
  byte-identical ``_adc_scores`` machinery over the published state.
- At 100 TB: the frozen index is a ``plans/ivfpq.py::build_index``
  value — numpy arrays held by the driver (cells: NCELLS rows;
  codebook: M·K_C entries) and shipped inside the encode kernel, so a
  micro-batch collects nothing.  Per batch: one Arrow pass of the
  ``plans/pq.py`` kernel over the batch plus a distinct over
  state ∪ delta-codes.  The at-rest corpus participates only through
  the frozen index — never re-scanned.  (The ``distinct`` touches the
  accumulated code table each batch; at deployment scale the code
  table is partitioned by cell and the delta appended per-partition —
  the fold here is the differential spec for that.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from star_schema_etl_airflow_spark.plans.pq import _SV_S, PQIndex, _np_encode
from star_schema_etl_airflow_spark.sources.io import (
    _target_exists,
    publish_swap,
    recover_swap,
)

CODE_SCHEMA = "cand_id long, cell long, m int, code long"


def merge_codes(existing: DataFrame | None, delta_codes: DataFrame) -> DataFrame:
    """state ∪ delta, distinct — idempotent because encoding is
    per-vector pure under frozen artifacts (re-delivered vectors
    produce byte-identical code rows)."""
    if existing is None:
        return delta_codes.distinct()
    return existing.unionByName(delta_codes).distinct()


def run_ivfpq_stream(
    spark: SparkSession,
    landing_dir: str,
    state_path: str,
    source_schema,
    index: PQIndex,
) -> DataFrame:
    """Consume all pending delta vector files (availableNow, one file
    per micro-batch), encoding each against the frozen ``index`` (a
    ``build_index`` value) and folding the codes into the persisted
    code table; returns the final (cand_id, cell, m, code) relation."""
    stream = (
        spark.readStream.schema(source_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing_dir)
    )

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        recover_swap(state_path)
        existing = (
            spark.read.parquet(state_path)
            if _target_exists(state_path, spark)
            else None
        )
        cand = batch_df.select(
            F.col("vec_id").alias("cand_id"), F.expr(_SV_S).alias("sv")
        )
        publish_swap(merge_codes(existing, _np_encode(cand, index)),
                     state_path)

    query = (
        stream.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", state_path.rstrip("/") + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    if not _target_exists(state_path, spark):
        return spark.createDataFrame([], CODE_SCHEMA)
    return spark.read.parquet(state_path)


def search_state(spark: SparkSession, sf_dir: str, state: DataFrame,
                 at_rest_codes: DataFrame | None = None) -> tuple:
    """``_adc_scores`` over the streamed code table (optionally unioned
    with a frozen at-rest code table) — byte-identical search machinery
    to the batch index."""
    from star_schema_etl_airflow_spark.plans.ivfpq import _adc_scores

    def codes_of(emb, encode):
        codes = state.select("cand_id", "cell", "m", "code")
        if at_rest_codes is not None:
            codes = at_rest_codes.select(
                "cand_id", "cell", "m", "code"
            ).unionByName(codes)
        return codes

    return _adc_scores(spark, sf_dir, codes_of=codes_of)
