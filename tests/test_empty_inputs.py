"""Empty-input edge cases: every mutating operator must degrade to a
no-op (not an error, not a corrupted table) when a day's delta is empty —
at 100 TB an empty landing partition is a Tuesday, not an exception."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from star_schema_etl_airflow_spark.operators.merge import merge_upsert
from star_schema_etl_airflow_spark.operators.components import connected_components
from star_schema_etl_airflow_spark.operators.pagerank import pagerank
from star_schema_etl_airflow_spark.operators.scd2 import apply_scd2

DIM_SCHEMA = T.StructType([
    T.StructField("sk", T.LongType()),
    T.StructField("cid", T.StringType()),
    T.StructField("city", T.StringType()),
    T.StructField("effective_date", T.DateType()),
    T.StructField("expiration_date", T.DateType()),
    T.StructField("is_current", T.BooleanType()),
])


def test_scd2_empty_delta_leaves_dim_unchanged(spark):
    dim = apply_scd2(
        spark.createDataFrame([], DIM_SCHEMA),
        spark.createDataFrame([("c1", "Oslo", 1)], "cid string, city string, v int"),
        key="cid", tracked=["city"], run_date="2024-01-01",
        sk_col="sk", order_col="v",
    )
    out = apply_scd2(
        dim,
        spark.createDataFrame([], "cid string, city string, v int"),
        key="cid", tracked=["city"], run_date="2024-01-02",
        sk_col="sk", order_col="v",
    )
    before = {tuple(r) for r in dim.collect()}
    after = {tuple(r) for r in out.collect()}
    assert before == after


def test_merge_empty_source_is_identity(spark):
    target = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    out = merge_upsert(
        target, spark.createDataFrame([], "k int, v string"), keys=["k"]
    )
    assert {tuple(r) for r in out.collect()} == {(1, "a"), (2, "b")}


def test_connected_components_no_edges_singletons(spark):
    nodes = spark.createDataFrame([(1,), (2,)], "node bigint")
    edges = spark.createDataFrame([], "src bigint, dst bigint")
    out = connected_components(edges, nodes=nodes)
    assert {(r.node, r.component) for r in out.collect()} == {(1, 1), (2, 2)}


def test_pagerank_empty_graph_returns_empty(spark):
    edges = spark.createDataFrame([], "src string, dst string")
    assert pagerank(edges).count() == 0


def test_retrieval_merge_topk_handles_empty_and_none(spark):
    """Streaming retrieval fold: a no-score batch is a no-op against
    the standing lists, and the first batch (no state) just ranks the
    batch itself."""
    from star_schema_etl_airflow_spark.streaming.retrieval_stream import (
        merge_topk,
    )

    scores = spark.createDataFrame(
        [(1, 10, 2.5), (1, 11, 1.5)],
        "query_id int, doc_id long, score double",
    )
    empty = spark.createDataFrame([], "query_id int, doc_id long, score double")
    first = {tuple(r) for r in merge_topk(None, scores).collect()}
    assert first == {(1, 10, 2.5), (1, 11, 1.5)}
    noop = {tuple(r) for r in merge_topk(scores, empty).collect()}
    assert noop == first


def test_ivfpq_encode_empty_delta_is_identity(spark):
    """FAISS add() of an empty ingest day: the code table is unchanged
    (union with an empty encode), not an error."""
    from pyspark.sql import functions as F

    from star_schema_etl_airflow_spark.plans.ivfpq import (
        _np_encode,
        _SV_S,
        build_index,
    )
    from star_schema_etl_airflow_spark.sources.fixtures import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", F.expr(_SV_S).alias("sv")
    )
    index = build_index(emb.collect())
    cand = emb.filter(F.col("vec_id") >= 10).withColumnRenamed(
        "vec_id", "cand_id"
    )
    base = _np_encode(cand, index)
    merged = base.unionByName(
        _np_encode(cand.filter(F.lit(False)), index)
    )
    assert merged.count() == base.count()
