"""IVFADC — the composed IVF + PQ index (Jégou et al., TPAMI 2011 §V):
coarse-quantize the corpus into inverted lists, product-quantize each
vector's RESIDUAL (vector − its cell centroid), and answer queries by
probing the nearest ``NPROBE`` cells with per-cell ADC lookup tables
over the residual codebook.  The repo ships the two halves separately
(``plans/llm_similarity.py`` IVF, ``plans/pq.py`` flat-PQ ADC); this is
the billion-scale composition — residual encoding is what lets a single
small codebook stay accurate across cells, and cell probing is what
keeps the scored set a fraction of the corpus.

Determinism: coordinates are fixed-pointed once (``floor(x·1e6+0.5)``,
the ``plans/pq.py`` contract) and EVERYTHING after — cell assignment,
residuals, encoding, ADC — is int64 arithmetic: exact under any
partitioning, either engine.  Residuals of scaled ints are scaled ints,
so the composition adds no new float edge.  Headroom: |coord| < 0.6 ⇒
scaled |sv| < 6e5, residual |r| < 1.2e6, per-subspace dist < 8·(2.4e6)²
≈ 4.6e13, ADC sum < 4e14 ≪ 2^63.

Deterministic training bands (data-defined, as FAISS seeds from the
first training points): coarse centroids are the ``NCELLS`` vectors at
``vec_id ∈ [N_QUERIES, N_QUERIES+NCELLS)``; the residual codebook's
``K_C`` entries per subspace are the residuals of the next ``K_C``
vectors.  The k-means-trained variant plugs in by swapping the centroid
relation (``embed_ann_ivf_trained`` shows the trained-codebook seam).

Scale design (100 TB of vectors):
- the frozen index — cell ids and centroids (NCELLS rows) and the
  residual codebook (M·K_C entries) — is control-plane sized and built
  once per call by ``build_index`` as numpy arrays on the driver; the
  corpus is never collected and never on a build side.
- assignment + residual + encoding is ONE Arrow pass per corpus row
  through the ``plans/pq.py`` numpy kernel — the FAISS ``add()`` pass,
  no shuffle.
- the probe and per-query ADC tables (|q|·NPROBE·M·K_C rows) are built
  exactly on the driver and broadcast as a local relation; scoring
  joins codes to them on (cell, m, code): only candidates in probed
  cells match (the inner join does the inverted-list pruning
  declaratively), and the per-query top-k window rides Catalyst's
  partial ``WindowGroupLimit`` — the exchange carries O(queries·k) rows
  per partition.

Reference parity: beyond-reference (LLM-pipeline extension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from star_schema_etl_airflow_spark.plans.pq import (
    _adc_search,
    _adc_topk,
    _np_codebook,
    _np_encode,
    _np_rows,
    _sv_duck,
    _SQDIST_D,
    _SV_S,
    D_SUB,
    K_C,
    M_SUB,
    N_QUERIES,
    PQIndex,
    TOP_K,
)
from star_schema_etl_airflow_spark.registry import QuerySpec, register
from star_schema_etl_airflow_spark.sources.fixtures import load_table

NCELLS = 8
NPROBE = 2
_CB_LO = N_QUERIES + NCELLS          # codebook training band
_CB_HI = N_QUERIES + NCELLS + K_C

# int64 sqdist over full 64-dim scaled vectors (exact re-rank baselines)
_SQ64_S = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
    "0L, (acc, v) -> acc + v)"
)


SHORTLIST = 50   # ADC shortlist depth for the refine (re-rank) stage


def build_index(head, cells: DataFrame | None = None) -> PQIndex:
    """The frozen IVFADC index as numpy arrays, from collected
    (vec_id, sv) rows covering ``vec_id < _CB_HI`` (other rows are
    ignored): the coarse cells — the deterministic band quantizer, or
    ``cells`` (a (cell, csv) relation, e.g. the scaled k-means
    codebook) when given — and the residual codebook, the training
    band's residuals against whichever cells are in force.  A
    deployment builds it once per index version."""
    if cells is None:
        ids, C = _np_rows(
            r for r in head if N_QUERIES <= r["vec_id"] < _CB_LO
        )
    else:
        ids, C = _np_rows(cells.collect(), "cell", "csv")
    cids, sub = _np_codebook(
        [r for r in head if _CB_LO <= r["vec_id"] < _CB_HI], C
    )
    return PQIndex(ids, C, cids, sub)


def _adc_scores(spark: SparkSession, sf_dir: str, codes_of=None,
                nprobe: int = NPROBE, cells_of=None,
                rotate: str | None = None):
    """Shared IVFADC machinery: returns ``(adc, emb)`` where ``adc`` is
    the per-(query, candidate-in-probed-cell) asymmetric distance
    relation and ``emb`` the scaled-int vector relation (for refine).
    ``codes_of(emb, encode)`` overrides how the code table is built
    (the incremental-add path supplies a union of frozen + delta
    encodes; ``encode(cand)`` is the vectorized add() pass against this
    call's frozen index); ``nprobe`` overrides the probe depth (the
    eval sweep); ``cells_of(spark, sf_dir)`` overrides the coarse
    quantizer (the k-means-trained variant); ``rotate`` is a Spark-SQL
    expression over a bound array column named ``sv`` applying an
    orthogonal-up-to-scale INT64 transform to every vector at load (the
    OPQ seam — ``plans/ivfpq_opq.py``; ``cells_of`` must rotate its
    centroids identically)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_SV_S).alias("sv")
    )
    if rotate is not None:
        emb = emb.select("vec_id", F.expr(rotate).alias("sv"))

    # ONE control-plane job collects queries + codebook band (+ the
    # band quantizer when no trained cells are supplied) — the three
    # deterministic head bands are contiguous by construction
    head = emb.filter(F.col("vec_id") < _CB_HI).collect()
    cells = None if cells_of is None else cells_of(spark, sf_dir)
    ix = build_index(head, cells)

    def encode(cand: DataFrame) -> DataFrame:
        return _np_encode(cand, ix)

    if codes_of is None:
        codes = encode(emb.filter(F.col("vec_id") >= N_QUERIES)
                       .withColumnRenamed("vec_id", "cand_id"))
    else:
        codes = codes_of(emb, encode)
    queries = [r for r in head if r["vec_id"] < N_QUERIES]
    return _adc_search(spark, codes, queries, ix, nprobe), emb


def embed_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC proper: rank probed-cell candidates by PQ asymmetric
    distance (the codes-only scan — no full vectors touched at query
    time)."""
    adc, _ = _adc_scores(spark, sf_dir)
    return _adc_topk(adc)


def embed_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC-R (Jégou et al. §VI "re-ranking with source coding"): the
    ADC shortlist (top ``SHORTLIST`` per query) is re-scored with EXACT
    int64 L2 on the full scaled vectors, and the final top-``TOP_K`` is
    ranked by the exact distance.  This is the production recall path —
    quantization error decides only shortlist membership, never the
    final order.

    Scale: the shortlist is |q|·SHORTLIST rows — control-plane sized and
    broadcast against ONE keyed lookup into the vector table (an
    equi-join on vec_id; at deployment the full-precision vectors are
    fetched from the same parquet the index was built from)."""
    adc, emb = _adc_scores(spark, sf_dir)
    return _refine(adc, emb)


def _refine(adc: DataFrame, emb: DataFrame) -> DataFrame:
    """The §VI refine stage on any ADC relation: ADC shortlist → exact
    int64 L2 re-rank → final top-``TOP_K`` (shared by the rerank query
    and the nprobe eval sweep)."""
    short = _adc_topk(adc, SHORTLIST).drop("rank")
    qv = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("sv").alias("qsv")
    )
    cv = emb.select(F.col("vec_id").alias("cand_id"), F.col("sv").alias("csv2"))
    d_exact = _SQ64_S.format(a="qsv", b="csv2")
    rer = (
        F.broadcast(short)
        .join(cv, "cand_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id", "cand_id", "cell", "adc_dist",
            F.expr(d_exact).alias("exact_dist"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy("exact_dist", "cand_id")
    return (
        rer.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id", "cand_id", "cell", "adc_dist", "exact_dist",
            F.col("rank").cast("int").alias("rank"),
        )
    )


_SQ64_D = _SQDIST_D.format(n=64, a="{a}", b="{b}")
_RSUB_D = (
    f"list_transform(range(1, {D_SUB} + 1), "
    "i -> ({sv})[m * " + str(D_SUB) + " + i] - ({csv})[m * "
    + str(D_SUB) + " + i])"
)
_D8_D = _SQDIST_D.format(n=D_SUB, a="{a}", b="{b}")

IVFPQ_ORACLE = f"""
WITH sv AS (
  SELECT vec_id, {_sv_duck('embedding')} AS sv FROM embeddings
),
cells AS (
  SELECT vec_id AS cell, sv AS csv FROM sv
  WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES} + {NCELLS}
),
cdist AS (
  SELECT v.vec_id AS cand_id, c.cell,
         {_SQ64_D.format(a='v.sv', b='c.csv')} AS d
  FROM sv v CROSS JOIN cells c WHERE v.vec_id >= {N_QUERIES}
),
assigned AS (
  SELECT d.cand_id, MIN(d.cell) AS cell
  FROM cdist d
  JOIN (SELECT cand_id, MIN(d) AS md FROM cdist GROUP BY 1) b
    ON d.cand_id = b.cand_id AND d.d = b.md
  GROUP BY d.cand_id
),
rsub AS (
  SELECT a.cand_id, a.cell, g.m,
         {_RSUB_D.format(sv='v.sv', csv='c.csv')} AS rsub
  FROM assigned a
  JOIN sv v ON v.vec_id = a.cand_id
  JOIN cells c ON c.cell = a.cell
  CROSS JOIN (SELECT unnest(range(0, {M_SUB})) AS m) g
),
cb AS (
  SELECT cand_id AS cid, m, rsub AS csub FROM rsub
  WHERE cand_id >= {_CB_LO} AND cand_id < {_CB_HI}
),
edist AS (
  SELECT r.cand_id, r.cell, r.m, k.cid,
         {_D8_D.format(a='r.rsub', b='k.csub')} AS d
  FROM rsub r JOIN cb k USING (m)
),
codes AS (
  SELECT d.cand_id, d.cell, d.m, MIN(d.cid) AS code
  FROM edist d
  JOIN (SELECT cand_id, m, MIN(d) AS md FROM edist GROUP BY 1, 2) b
    ON d.cand_id = b.cand_id AND d.m = b.m AND d.d = b.md
  GROUP BY d.cand_id, d.cell, d.m
),
qdistc AS (
  SELECT v.vec_id AS query_id, c.cell, v.sv, c.csv,
         {_SQ64_D.format(a='v.sv', b='c.csv')} AS d
  FROM sv v CROSS JOIN cells c WHERE v.vec_id < {N_QUERIES}
),
probed AS (
  SELECT query_id, cell, sv, csv FROM (
    SELECT query_id, cell, sv, csv,
           ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY d, cell) AS rn
    FROM qdistc
  ) WHERE rn <= {NPROBE}
),
qsub AS (
  SELECT p.query_id, p.cell, g.m,
         {_RSUB_D.format(sv='p.sv', csv='p.csv')} AS rsub
  FROM probed p CROSS JOIN (SELECT unnest(range(0, {M_SUB})) AS m) g
),
qtab AS (
  SELECT q.query_id, q.cell, q.m, k.cid,
         {_D8_D.format(a='q.rsub', b='k.csub')} AS qdist
  FROM qsub q JOIN cb k USING (m)
),
adc AS (
  SELECT t.query_id, c.cand_id, c.cell,
         CAST(SUM(t.qdist) AS BIGINT) AS adc_dist
  FROM codes c
  JOIN qtab t ON t.cell = c.cell AND t.m = c.m AND t.cid = c.code
  GROUP BY 1, 2, 3
)
SELECT query_id, cand_id, cell, adc_dist,
       CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY adc_dist, cand_id) AS rank
  FROM adc
) WHERE rank <= {TOP_K}
"""

# the refine stage composes on the same CTE chain: shortlist by ADC,
# exact int64 L2 on the shortlist, final rank by exact distance
_CTES = IVFPQ_ORACLE.split("\nSELECT query_id,")[0]
IVFPQ_RERANK_ORACLE = f"""{_CTES},
short AS (
  SELECT query_id, cand_id, cell, adc_dist FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY adc_dist, cand_id) AS srank
    FROM adc
  ) WHERE srank <= {SHORTLIST}
),
rer AS (
  SELECT s.query_id, s.cand_id, s.cell, s.adc_dist,
         {_SQ64_D.format(a='qv.sv', b='cv.sv')} AS exact_dist
  FROM short s
  JOIN sv qv ON qv.vec_id = s.query_id
  JOIN sv cv ON cv.vec_id = s.cand_id
)
SELECT query_id, cand_id, cell, adc_dist,
       CAST(exact_dist AS BIGINT) AS exact_dist,
       CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY exact_dist, cand_id) AS rank
  FROM rer
) WHERE rank <= {TOP_K}
"""

def mat_ctes(sql: str) -> str:
    """Mark every CTE of an assembled oracle ``AS MATERIALIZED``
    (r14 verdict task 3, sweep cost): the IVFADC chains reference
    ``sv``/``cb``/``adc`` several times each, and DuckDB's inlining
    re-evaluates a non-materialized CTE per reference — the variant
    ablation paid its three full chains ~3× over.  Applied at
    REGISTRATION time only, so the raw building-block strings the
    oracle surgeries (`_trained_oracle`, `_suffixed_chain`) match
    against stay untouched.

    Guard: refuses SQL containing a WINDOW token ANYWHERE (not just
    line-leading — a clause split across lines as ``... WINDOW\\n
    w AS (...)`` would otherwise escape a line-anchored guard and be
    rewritten into invalid SQL): a line-leading ``w AS (PARTITION
    ...)`` inside one would be rewritten into a syntax error; none of
    the wrapped oracles uses WINDOW, and a future one should
    materialize at assembly time instead."""
    import re

    if re.search(r"(?i)\bWINDOW\b", sql):
        raise ValueError(
            "mat_ctes: SQL contains a WINDOW clause — line-anchored "
            "CTE rewriting would corrupt it; materialize at assembly "
            "time instead"
        )
    return re.sub(r"(?m)^(WITH )?(\s*)(\w+ AS) \(",
                  r"\1\2\3 MATERIALIZED (", sql)


register(QuerySpec("embed_ivfpq_topk", embed_ivfpq_topk,
                   mat_ctes(IVFPQ_ORACLE), tags=("llm", "ann")))
register(QuerySpec("embed_ivfpq_rerank", embed_ivfpq_rerank,
                   mat_ctes(IVFPQ_RERANK_ORACLE), tags=("llm", "ann")))


# --- incremental add() ------------------------------------------------------

IVFPQ_ADD_CUT = 300   # at-rest corpus: vec_id < CUT; delta batch: >= CUT
assert IVFPQ_ADD_CUT >= _CB_HI, "artifacts must come from the at-rest corpus"


def _append_codes(emb: DataFrame, encode) -> DataFrame:
    """The append-encode code table (a ``codes_of`` for ``_adc_scores``):
    the at-rest band and the delta band, each encoded separately against
    the same frozen index, then unioned."""
    def band(cond):
        return emb.filter(cond).withColumnRenamed("vec_id", "cand_id")

    at_rest = band((F.col("vec_id") >= N_QUERIES)
                   & (F.col("vec_id") < IVFPQ_ADD_CUT))
    delta = band(F.col("vec_id") >= IVFPQ_ADD_CUT)
    return encode(at_rest).unionByName(encode(delta))


def embed_ivfpq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest path of a deployed IVFADC index (FAISS ``add()``):
    new vectors are encoded against the FROZEN artifacts (cells +
    residual codebook, trained on the at-rest corpus) and their codes
    appended to the at-rest code table — the corpus is never
    re-encoded.  Search is byte-identical to ``embed_ivfpq_topk``.

    The oracle is the FULL-REBUILD oracle ON PURPOSE (the
    ``kmv_incremental_merge`` convention): encoding is per-vector pure
    given the frozen index, so append-encode must equal rebuild EXACTLY —
    checked differentially, which is what licenses maintaining the
    code table incrementally at 100 TB.  (Here the delta is the
    ``vec_id >= IVFPQ_ADD_CUT`` band — a deterministic stand-in for an
    ingest day; both encode passes run against the same frozen
    index.)"""
    adc, _ = _adc_scores(spark, sf_dir, codes_of=_append_codes)
    return _adc_topk(adc)


# same oracle ON PURPOSE: append-encode must equal full rebuild exactly
register(QuerySpec("embed_ivfpq_incremental", embed_ivfpq_incremental,
                   mat_ctes(IVFPQ_ORACLE),
                   tags=("llm", "ann", "INCREMENTAL")))


# --- nprobe recall/cost sweep -----------------------------------------------

EVAL_NPROBES = (1, 2, 4)


def ivfpq_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-quality evaluation as a query — the IVFADC twin of
    ``dedup_eval_banding``: for each probe depth, the scored-candidate
    volume (the query-time cost axis) and recall@k of the refined list
    against the EXACT int64 top-k (the quality axis).  The probe-depth
    table a deployment reads before fixing ``nprobe``.

    The exact baseline is the broadcast-query full scan (the repo's
    ``embed_topk_cosine`` shape, int64 L2 here) — corpus-linear, built
    once and shared by every config; each config reuses the frozen
    artifacts and differs only in the probe filter."""
    from star_schema_etl_airflow_spark.functions.caching import persist_once

    exact = _exact_topk(spark, sf_dir)
    out = None
    for p in EVAL_NPROBES:
        adc, emb_p = _adc_scores(spark, sf_dir, nprobe=p)
        adc = persist_once(adc)
        approx = _refine(adc, emb_p).select("query_id", "cand_id")
        row = _recall_row(adc, approx, exact).select(
            F.lit(p).cast("int").alias("nprobe"), "*"
        )
        out = row if out is None else out.unionByName(row)
    return out


def _exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted exact int64 top-``TOP_K`` (query_id, cand_id) —
    the recall baseline of the eval queries: a broadcast-query full
    scan (the repo's ``embed_topk_cosine`` shape, int64 L2 here),
    corpus-linear and built once per eval call."""
    from star_schema_etl_airflow_spark.functions.caching import persist_once

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_SV_S).alias("sv")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("sv").alias("qsv")
    )
    c = emb.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"), F.col("sv").alias("csv2")
    )
    we = Window.partitionBy("query_id").orderBy("d", "cand_id")
    return persist_once(
        F.broadcast(q).crossJoin(c)
        .select(
            "query_id", "cand_id",
            F.expr(_SQ64_S.format(a="qsv", b="csv2")).alias("d"),
        )
        .withColumn("rank", F.row_number().over(we))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id")
    )


def _recall_row(adc: DataFrame, approx: DataFrame,
               exact: DataFrame) -> DataFrame:
    """One eval row (n_scored, n_hits, recall): the scored-candidate
    volume of ``adc`` and recall@k of ``approx``'s (query_id, cand_id)
    pairs against ``exact``."""
    denom = float(N_QUERIES * TOP_K)
    return (
        adc.agg(F.count(F.lit(1)).alias("n_scored"))
        .crossJoin(
            approx.join(exact, ["query_id", "cand_id"])
            .agg(F.count(F.lit(1)).alias("n_hits"))
        )
        .select(
            F.col("n_scored").cast("long").alias("n_scored"),
            F.col("n_hits").cast("long").alias("n_hits"),
            F.round(
                F.col("n_hits").cast("double") / F.lit(denom), 9
            ).alias("recall"),
        )
    )


# oracle: the shared CTE chain (sv..codes, qdistc) + per-nprobe probe/
# ADC/refine chains + the exact full-scan baseline
_SHARED_CTES = _CTES[:_CTES.index("probed AS (")].rstrip().rstrip(",")


def _probe_chain_ctes(p: int) -> str:
    return f"""probed{p} AS (
  SELECT query_id, cell, sv, csv FROM (
    SELECT query_id, cell, sv, csv,
           ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY d, cell) AS rn
    FROM qdistc
  ) WHERE rn <= {p}
),
qsub{p} AS (
  SELECT p.query_id, p.cell, g.m,
         {_RSUB_D.format(sv='p.sv', csv='p.csv')} AS rsub
  FROM probed{p} p CROSS JOIN (SELECT unnest(range(0, {M_SUB})) AS m) g
),
qtab{p} AS (
  SELECT q.query_id, q.cell, q.m, k.cid,
         {_D8_D.format(a='q.rsub', b='k.csub')} AS qdist
  FROM qsub{p} q JOIN cb k USING (m)
),
adc{p} AS (
  SELECT t.query_id, c.cand_id, c.cell,
         CAST(SUM(t.qdist) AS BIGINT) AS adc_dist
  FROM codes c
  JOIN qtab{p} t ON t.cell = c.cell AND t.m = c.m AND t.cid = c.code
  GROUP BY 1, 2, 3
),
short{p} AS (
  SELECT query_id, cand_id FROM (
    SELECT query_id, cand_id,
           ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY adc_dist, cand_id) AS srank
    FROM adc{p}
  ) WHERE srank <= {SHORTLIST}
),
rer{p} AS (
  SELECT query_id, cand_id FROM (
    SELECT s.query_id, s.cand_id,
           ROW_NUMBER() OVER (
             PARTITION BY s.query_id
             ORDER BY {_SQ64_D.format(a='qv.sv', b='cv.sv')}, s.cand_id
           ) AS rank
    FROM short{p} s
    JOIN sv qv ON qv.vec_id = s.query_id
    JOIN sv cv ON cv.vec_id = s.cand_id
  ) WHERE rank <= {TOP_K}
)"""


def _eval_cfg_select(p: int) -> str:
    denom = float(N_QUERIES * TOP_K)
    hits = (f"(SELECT COUNT(*) FROM rer{p} r JOIN exact e "
            f"ON r.query_id = e.query_id AND r.cand_id = e.cand_id)")
    return f"""
  SELECT CAST({p} AS INTEGER) AS nprobe,
         CAST((SELECT COUNT(*) FROM adc{p}) AS BIGINT) AS n_scored,
         CAST({hits} AS BIGINT) AS n_hits,
         ROUND(CAST({hits} AS DOUBLE) / {denom!r}, 9) AS recall"""


IVFPQ_EVAL_ORACLE = f"""{_SHARED_CTES},
exact AS (
  SELECT query_id, cand_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_SQ64_D.format(a='q.sv', b='c.sv')}, c.vec_id
           ) AS rank
    FROM sv q CROSS JOIN sv c
    WHERE q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
  ) WHERE rank <= {TOP_K}
),
{", ".join(_probe_chain_ctes(p) for p in EVAL_NPROBES)}
{" UNION ALL ".join(_eval_cfg_select(p) for p in EVAL_NPROBES)}
"""

register(QuerySpec("ivfpq_eval", ivfpq_eval, mat_ctes(IVFPQ_EVAL_ORACLE),
                   tags=("llm", "ann", "EVAL")))


# --- trained coarse quantizer (k-means cells) -------------------------------


_FROZEN: dict[tuple, DataFrame] = {}


def _fixture_fingerprint(sf_dir: str) -> tuple:
    """Cheap (mtime_ns, size) fingerprint of the embeddings fixture
    under ``sf_dir`` so a regenerated fixture invalidates frozen
    artifacts within one Spark application — without it, IVFADC
    queries would silently serve centroids trained on the OLD data
    while the DuckDB oracle reads the new files (a differential
    failure with a misleading cause)."""
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        if os.path.isdir(path):
            parts = sorted(
                os.path.join(path, f) for f in os.listdir(path)
            )
            return tuple(
                (os.path.basename(p), os.stat(p).st_mtime_ns,
                 os.stat(p).st_size)
                for p in parts
            )
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:   # symlinked / virtual fixture dirs: no staleness
        return ("unstatable",)


def frozen_artifact(spark: SparkSession, key: tuple, build) -> DataFrame:
    """Session-scoped frozen index artifact (r14 verdict task 3): the
    production IVFADC lifecycle trains a quantizer ONCE per index
    version and serves every subsequent index/search pass against the
    frozen result — re-deriving it inside each query call both
    mis-times the bench (train+index+search conflated in one figure)
    and multiplies sweep cost by the number of IVFADC-family queries.
    First call materializes via eager ``localCheckpoint`` (control-
    plane sized — a handful of centroid rows; survives
    ``catalog.clearCache``, so cache-isolated bench passes still reuse
    it, which is exactly the freeze semantics); later calls in the same
    application return the identical frozen relation, so output is
    bit-identical to rebuild by construction (the deterministic Lloyd
    fit would reproduce it anyway — pinned in tests)."""
    app = spark.sparkContext.applicationId
    k = (app,) + key
    if k not in _FROZEN:
        # evict artifacts of stopped applications: a long-lived Python
        # process cycling SparkSessions would otherwise pin dead
        # DataFrames under stale applicationId keys forever
        for stale in [x for x in _FROZEN if x[0] != app]:
            del _FROZEN[stale]
        _FROZEN[k] = build().localCheckpoint()
    return _FROZEN[k]


def _trained_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-means codebook as the coarse quantizer: the repo's
    deterministic 2-iteration Lloyd fit (``operators/kmeans.py``, same
    run as ``kmeans_assign``) produces DOUBLE centroids that are
    bit-identical on both engines; fixed-pointing them (floor(x·1e6+.5),
    the ``plans/pq.py`` contract) yields INT64 cells, so everything
    downstream keeps the exact-arithmetic guarantee.  Frozen per
    (application, sf_dir): the fit runs once and every IVFADC variant
    (trained, OPQ, incremental, the variant ablation) shares it."""
    return frozen_artifact(
        spark, ("trained_cells", sf_dir, _fixture_fingerprint(sf_dir)),
        lambda: _fit_trained_cells(spark, sf_dir),
    )


def _fit_trained_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from star_schema_etl_airflow_spark.operators.kmeans import kmeans_fit
    from star_schema_etl_airflow_spark.plans.clustering_queries import (
        K as KM_K,
        N_ITER as KM_ITER,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    _, cents = kmeans_fit(emb, KM_K, KM_ITER, dim=64)
    return cents.select(
        F.col("cluster").alias("cell"), F.expr(_SV_S).alias("csv")
    )


def embed_ivfpq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC with a TRAINED coarse quantizer — the full production
    pipeline (train → index → search) in one differential query: Lloyd
    k-means fits the cells, the residual codebook re-derives against
    them, candidates encode, queries probe — byte-identical machinery
    to ``embed_ivfpq_topk`` with only the cells relation swapped
    (the seam ``embed_ann_ivf_trained`` documents for flat IVF, now
    closed for the composed index).  The oracle chains the unrolled
    k-means CTEs (``plans/clustering_queries.py``) into the verified
    IVFADC chain."""
    adc, _ = _adc_scores(spark, sf_dir, cells_of=_trained_cells)
    return _adc_topk(adc)


def _trained_oracle() -> str:
    from star_schema_etl_airflow_spark.plans.clustering_queries import (
        KMEANS_CTES,
    )

    band_cells = f"""cells AS (
  SELECT vec_id AS cell, sv AS csv FROM sv
  WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES} + {NCELLS}
),"""
    trained_cells = f"""cells AS (
  SELECT cluster AS cell, {_sv_duck('embedding')} AS csv FROM c2
),"""
    assert band_cells in IVFPQ_ORACLE
    body = IVFPQ_ORACLE.replace(band_cells, trained_cells)
    # splice the kmeans CTE chain in front of the (verified) IVFADC chain
    return body.replace("\nWITH sv AS (", f"\nWITH {KMEANS_CTES},\nsv AS (")


register(QuerySpec("embed_ivfpq_trained", embed_ivfpq_trained,
                   mat_ctes(_trained_oracle()),
                   tags=("llm", "ann", "KMEANS")))
