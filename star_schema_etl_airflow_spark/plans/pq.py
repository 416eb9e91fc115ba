"""Product quantization with asymmetric-distance scoring (IVFADC family).

The compression side of a billion-scale ANN index (Jégou, Douze, Schmid,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011): split
each vector into ``M`` subvectors, encode every subvector as the id of
its nearest per-subspace centroid (``M`` small ints replace ``D``
floats — here 8 codes replace 64 floats, a 32× compression), and score
queries against the *codes only* via per-query lookup tables (ADC):

    adc(q, x) = Σ_m  ||q_m − c_{m, code_m(x)}||²

Codebook: this oracle-checked query derives the per-subspace centroids
from the data deterministically — the ``K_C`` vectors right after the
query band (``N_QUERIES ≤ vec_id < N_QUERIES+K_C``) serve as centroids,
exactly as FAISS seeds k-means from the first training points.  The
k-means-*trained* codebook variant lives in ``plans/llm_similarity.py``
(IVF with trained codebook) — training is iterative and stays
pytest/recall-pinned; the encode/ADC kernel here is the part with exact
cross-engine semantics, so it gets the full value-hash oracle.

Float determinism: coordinates are fixed-pointed once —
``floor(x·1e6 + 0.5)`` per element (the engine's standard trick, see
``plans/llm_quantize.py`` for why floor-plus-half beats round) — and
every distance after that is an INT64 sum of squared integer
differences: exact under any partitioning, any fold order, both
engines.  Headroom: coords < 0.6 ⇒ per-subspace dist < 2e13, ADC sum
< 2e14 ≪ 2^63.

One kernel for the whole family: flat ADC is IVFADC with a single
coarse cell (Jégou et al. §V), so ``pq_adc_topk`` runs the numpy
kernels below over one all-zero cell — the residual is the vector
itself — and ``plans/ivfpq.py`` runs the same kernels over its real
cells.

Scale design (100 TB of vectors):

- the frozen index (cell ids and centroids, codebook ids and the
  per-subspace codebook) is control-plane sized and held as numpy
  arrays on the driver; the kernel closure ships them to the workers.
- encoding is ONE Arrow pass per corpus row (``mapInPandas``):
  assignment, residual and the per-subspace argmin in int64 numpy —
  no shuffle, no per-(row, centroid) interpreted fold, constant
  planning cost.  This is FAISS's ``add()``.
- the per-query ADC tables (|q|·nprobe·M·K_C rows) are computed
  exactly on the driver and enter the plan as a broadcast local
  relation; scoring touches codes only — |corpus|·M rows joined to
  that table, then the per-query top-k window rides Catalyst's
  ``InferWindowGroupLimit`` partial limit (same pinned shape as
  ``embed_topk_cosine``), so the exchange carries O(queries·k) per
  partition, never |corpus|·|queries|.
- argmin over arrays sorted by id ascending takes the first minimum,
  which is the oracle's ``min(struct(d, id))`` contract: ties break
  toward the lowest cell id and the lowest codebook id.

Reference parity: beyond-reference (LLM-pipeline extension).
"""

from __future__ import annotations

from typing import Any, NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from star_schema_etl_airflow_spark.registry import QuerySpec, register
from star_schema_etl_airflow_spark.sources.fixtures import load_table

EMB_DIM = 64
M_SUB = 8                     # subspaces
D_SUB = EMB_DIM // M_SUB      # dims per subspace
K_C = 16                      # centroids per subspace
N_QUERIES = 10                # vec_id < N_QUERIES are queries (repo-wide)
TOP_K = 10
SCALE = 1_000_000

# fixed-point element: exact in both engines (floor is IEEE-exact; +0.5
# makes it round-half-up without engine-specific round() tie policy)
_SV_S = (
    "transform(embedding, x -> "
    f"cast(floor(cast(x as double) * {SCALE}.0d + 0.5d) as bigint))"
)


def _sv_duck(col: str) -> str:
    return (
        f"list_transform({col}, x -> "
        f"CAST(floor(CAST(x AS DOUBLE) * {SCALE}.0 + 0.5) AS BIGINT))"
    )


def _sub_duck(sv: str) -> str:
    """Slice of a scaled 64-vector for subspace ``m`` (1-based lists)."""
    return (
        f"list_transform(range(1, {D_SUB} + 1), "
        f"i -> ({sv})[m * {D_SUB} + i])"
    )


_SQDIST_D = (
    "list_sum(list_transform(range(1, {n} + 1), "
    "i -> (({a})[i] - ({b})[i]) * (({a})[i] - ({b})[i])))"
)


# --- the numpy PQ kernel ----------------------------------------------------
#
# Every PQ/IVFADC encode and ADC table goes through these functions.  All
# arithmetic is int64 numpy — exact at the documented headroom — and every
# id array is sorted ascending, so ``argmin`` (first minimum) reproduces
# the oracles' ``min(struct(d, id))`` tie-break exactly.


class PQIndex(NamedTuple):
    """A frozen (IVF)PQ index: ``ids`` (cell ids, ascending) with their
    centroids ``C`` (one int64 row each), and the residual codebook —
    ``cids`` (codebook ids, ascending) and ``sub`` of shape
    (M_SUB, len(cids), D_SUB), one codebook per subspace."""

    ids: Any
    C: Any
    cids: Any
    sub: Any


def _np_rows(rows, id_col: str = "vec_id", vec_col: str = "sv"):
    """(ids, X): collected rows as int64 arrays sorted by id ascending."""
    import numpy as np

    rows = sorted(rows, key=lambda r: r[id_col])
    ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    return ids, np.array([list(r[vec_col]) for r in rows], dtype=np.int64)


def _np_assign(X, C):
    """Row index into ``C`` of each vector's nearest cell — exact int64
    L2, ties to the lowest row (= lowest id; ``C`` is sorted by id)."""
    return ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)


def _np_codebook(band_rows, C):
    """(cids, sub): the residual codebook from the training band's
    (vec_id, sv) rows — each band vector minus its nearest centroid,
    split into subspaces, sorted by cid ascending."""
    import numpy as np

    cids, B = _np_rows(band_rows)
    R = B - C[_np_assign(B, C)]
    sub = R.reshape(len(cids), M_SUB, D_SUB).transpose(1, 0, 2)
    return cids, np.ascontiguousarray(sub)


def _np_encode(cand: DataFrame, ix: PQIndex) -> DataFrame:
    """The vectorized add() pass over ANY (cand_id, sv) relation: one
    Arrow crossing per corpus row, assignment/residual/encode in int64
    numpy — (cand_id, cell, m, code), one row per (vector, subspace)."""

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            X = np.array([list(v) for v in pdf["sv"]], dtype=np.int64)
            a = _np_assign(X, ix.C)
            R = X - ix.C[a]
            codes = np.empty((M_SUB, n), dtype=np.int64)
            for m in range(M_SUB):
                S = R[:, m * D_SUB:(m + 1) * D_SUB]
                d = ((S[:, None, :] - ix.sub[m][None, :, :]) ** 2).sum(axis=2)
                codes[m] = ix.cids[d.argmin(axis=1)]
            yield pd.DataFrame({
                "cand_id": np.tile(pdf["cand_id"].to_numpy(np.int64), M_SUB),
                "cell": np.tile(ix.ids[a], M_SUB),
                "m": np.repeat(np.arange(M_SUB, dtype=np.int32), n),
                "code": codes.ravel(),
            })

    return cand.select("cand_id", "sv").mapInPandas(
        kernel, schema="cand_id long, cell long, m int, code long"
    )


def _np_qtab(queries, ix: PQIndex, nprobe: int):
    """Probe + per-query ADC lookup tables, computed exactly on the
    driver from the collected (vec_id, sv) query rows: an Arrow table of
    (query_id, cell, m, cid, qdist), one row per codebook entry of each
    probed (query, cell, subspace).  Probe order ties break on
    (d, cell) ascending."""
    import numpy as np
    import pyarrow as pa

    m = np.repeat(np.arange(M_SUB, dtype=np.int64), len(ix.cids))
    cid = np.tile(ix.cids, M_SUB)
    blocks = [np.zeros((5, 0), dtype=np.int64)]
    for qid, qv in zip(*_np_rows(queries)):
        d = ((qv[None, :] - ix.C) ** 2).sum(axis=1)
        for j in np.lexsort((ix.ids, d))[:nprobe]:
            res = (qv - ix.C[j]).reshape(M_SUB, 1, D_SUB)
            qdist = ((res - ix.sub) ** 2).sum(axis=2).ravel()
            blocks.append(np.stack([
                np.full_like(m, qid), np.full_like(m, ix.ids[j]),
                m, cid, qdist,
            ]))
    T = np.concatenate(blocks, axis=1)
    return pa.table({
        "query_id": T[0], "cell": T[1], "m": T[2].astype(np.int32),
        "cid": T[3], "qdist": T[4],
    })


def _adc_search(spark: SparkSession, codes: DataFrame, queries,
               ix: PQIndex, nprobe: int) -> DataFrame:
    """search(): join a (cand_id, cell, m, code) table to the broadcast
    driver-built ADC tables of ``queries`` and sum per candidate —
    (query_id, cand_id, cell, adc_dist) for candidates in probed cells
    (the inner join is the inverted-list pruning)."""
    qtab = spark.createDataFrame(_np_qtab(queries, ix, nprobe))
    return (
        codes.join(
            F.broadcast(qtab),
            (codes.cell == qtab.cell)
            & (codes.m == qtab.m)
            & (codes.code == qtab.cid),
        )
        .select("query_id", "cand_id", codes.cell, "qdist")
        .groupBy("query_id", "cand_id", "cell")
        .agg(F.sum("qdist").alias("adc_dist"))
    )


def _adc_topk(adc: DataFrame, k: int = TOP_K) -> DataFrame:
    """Per-query top-``k`` of an ADC relation by (adc_dist, cand_id),
    with an int ``rank`` column appended."""
    w = Window.partitionBy("query_id").orderBy("adc_dist", "cand_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query top-``TOP_K`` candidates by PQ asymmetric distance:
    IVFADC over one all-zero cell, so the residual codebook is the
    band's own subvectors and every candidate is in the probed cell."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_SV_S).alias("sv")
    )
    # one control-plane job: the queries and the codebook band
    head = emb.filter(F.col("vec_id") < N_QUERIES + K_C).collect()
    C = np.zeros((1, EMB_DIM), dtype=np.int64)
    ix = PQIndex(np.zeros(1, dtype=np.int64), C, *_np_codebook(
        [r for r in head if r["vec_id"] >= N_QUERIES], C
    ))
    cand = emb.filter(F.col("vec_id") >= N_QUERIES).withColumnRenamed(
        "vec_id", "cand_id"
    )
    adc = _adc_search(
        spark, _np_encode(cand, ix),
        [r for r in head if r["vec_id"] < N_QUERIES], ix, nprobe=1,
    )
    return _adc_topk(adc.drop("cell"))


_SV_Q = _sv_duck("embedding")
_D_ENC = _SQDIST_D.format(n=D_SUB, a="c.subv", b="k.csub")
_D_Q = _SQDIST_D.format(n=D_SUB, a="q.subv", b="k.csub")

PQ_ADC_ORACLE = f"""
WITH sub AS (
  SELECT vec_id, m, {_sub_duck(_SV_Q)} AS subv
  FROM embeddings, (SELECT unnest(range(0, {M_SUB})) AS m)
),
cb AS (
  SELECT vec_id AS cid, m, subv AS csub FROM sub
  WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES} + {K_C}
),
dists AS (
  SELECT c.vec_id AS cand_id, c.m, k.cid, {_D_ENC} AS d
  FROM sub c JOIN cb k USING (m)
  WHERE c.vec_id >= {N_QUERIES}
),
best AS (
  SELECT cand_id, m, MIN(d) AS md FROM dists GROUP BY cand_id, m
),
codes AS (
  SELECT d.cand_id, d.m, MIN(d.cid) AS code
  FROM dists d JOIN best b
    ON d.cand_id = b.cand_id AND d.m = b.m AND d.d = b.md
  GROUP BY d.cand_id, d.m
),
qtab AS (
  SELECT q.vec_id AS query_id, q.m, k.cid, {_D_Q} AS qdist
  FROM sub q JOIN cb k USING (m)
  WHERE q.vec_id < {N_QUERIES}
),
adc AS (
  SELECT t.query_id, c.cand_id, CAST(SUM(t.qdist) AS BIGINT) AS adc_dist
  FROM codes c JOIN qtab t ON t.m = c.m AND t.cid = c.code
  GROUP BY t.query_id, c.cand_id
),
ranked AS (
  SELECT query_id, cand_id, adc_dist,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY adc_dist, cand_id
         ) AS INTEGER) AS rank
  FROM adc
)
SELECT query_id, cand_id, adc_dist, rank FROM ranked WHERE rank <= {TOP_K}
"""


register(QuerySpec("pq_adc_topk", pq_adc_topk, PQ_ADC_ORACLE,
                   tags=("llm", "ann")))
