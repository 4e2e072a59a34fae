"""Similarity search over the `embeddings` table (array<float>, 64-dim).

Training-data-pipeline operators (no reference analog — the reference
has no embeddings; its nearest-neighbour machinery J2/J3 is geometric,
and these are its vector-space generalization):

  * brute-force cosine top-k  — the exactness baseline (oracle-checked)
  * LSH-bucketed ANN          — random-hyperplane signatures; the scale
                                path (bucket join, no full cross join)
  * IVF ANN                   — coarse-quantizer cells + nprobe search;
                                the other standard scale path

Vector math is JVM-side (zip_with/aggregate over array columns),
except the LSH signatures and the IVF cell assignment: each is one
numpy matmul per Arrow batch (`arrow_udf`), where no oracle compares
floats (CLAUDE.md #16).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .tables import read_table, table_rows

TOP_K = 5
N_QUERIES = 10          # vec_id < 10 are the query vectors
# multi-table random-hyperplane LSH: for neighbours at cosine ~0.33
# (angle ~70°) P(same side) ~ 0.61 per plane, so one table of many
# planes has near-zero recall; L tables of 4 planes give
# P(collide >= 1 table) = 1 - (1 - 0.61^4)^L ~ 0.82 at L=12.
#
# Corpus-scaling rule (selectivity): expected bucket population is
# n / 2^planes, so planes must grow with n to stay a candidate
# *generator* — planes = max(LSH_MIN_PLANES,
# ceil(log2(n / LSH_TARGET_BUCKET_POP))) keeps the expected bucket at
# ~LSH_TARGET_BUCKET_POP docs at any corpus size (500 rows -> 4 planes,
# 10^9 rows -> 25).  Recall lost to extra planes is bought back by
# multi-probe on the query side: each query probes its own bucket plus
# all `planes` hamming-1 neighbours per table, so per-table recall is
# p^k + k*p^(k-1)*(1-p) instead of p^k (p = 1 - angle/pi).  Candidates
# stay bounded at tables * (planes+1) * bucket_pop per query.
LSH_MIN_PLANES = 4
LSH_TABLES = 12
LSH_TARGET_BUCKET_POP = 32


def _as_double(col):
    """array<float> -> array<double>, element-wise (JVM-side)."""
    return F.transform(col, lambda x: x.cast("double"))


def _dot(av, bv):
    """JVM left-fold dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(av, bv, lambda x, y: x * y), F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _vnorm(col):
    """sqrt of the JVM left-fold sum of squares — exactly the norm
    subexpression of _cos.  Precompute it once per VECTOR when scoring
    candidate PAIRS: Spark HOFs run interpreted with no
    common-subexpression elimination, so an inlined _cos pays two
    O(dim) norm folds on every pair — 3x the fold work on a candidate
    set that is orders of magnitude larger than the vector table.
    dot/(na*nb) on the precomputed norms is the identical IEEE
    expression, so results are bit-identical."""
    return F.sqrt(F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x))


def _cos(av, bv):
    """Exact cosine between two array<double> columns — the engine-wide
    deterministic JVM left fold (numpy pairwise summation differs in
    the last ulp, CLAUDE.md gotcha #16)."""
    return _dot(av, bv) / (_vnorm(av) * _vnorm(bv))


def two_stage_topk(df: DataFrame, keys: list[str], order: list, k: int) -> DataFrame:
    """`df` plus a 1-based `rank` column, keeping rank <= k per `keys`
    group (over the whole frame when `keys` is []), ranked by the sort
    Columns in `order`.  Every global or per-key top-k in operators/
    and streaming/ goes through here (the window lint in
    tests/test_operators_oracle.py holds the rest to bin tables).

    A single Window.partitionBy(*keys) would funnel each group's whole
    input through ONE task (with keys == [], the whole frame).  Stage 1
    takes the top-k within (keys, input partition), so a stage-1 window
    group is at most one partition's rows; stage 2 merges only the k·P
    survivors per group (P = input partitions of `df`), so the merge
    window, the single-task one included, is bounded at k·P rows.
    `order` must be total within a group (end it on a unique column),
    so both stages are deterministic."""
    local = df.withColumn("part", F.spark_partition_id())
    wl = Window.partitionBy(*keys, "part").orderBy(*order)
    pre = (
        local.withColumn("lr", F.row_number().over(wl))
        .filter(F.col("lr") <= k)
        .drop("part", "lr")
    )
    w = Window.partitionBy(*keys).orderBy(*order)
    return pre.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _ann_rerank(scored: DataFrame) -> DataFrame:
    """Top-TOP_K neighbours per query of (query_id, neighbor_id,
    cosine) rows, neighbor_id unique per query."""
    return two_stage_topk(
        scored, ["query_id"], [F.desc("cosine"), F.asc("neighbor_id")], TOP_K
    ).select("query_id", "rank", "neighbor_id", "cosine")


def ann_topk_bruteforce(spark, sf_dir):
    """Exact top-k cosine neighbours for the first N_QUERIES vectors.
    The query side is tiny -> broadcast; the corpus side streams, so on
    a cluster this is a map-only scan of the corpus (no shuffle of the
    embedding payload)."""
    e = read_table(spark, sf_dir, "embeddings", wide=True).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    pairs = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        # floor-to-1e-6, not ROUND: deterministic across engines
        # (CLAUDE.md gotcha: ROUND ties HALF_UP Spark vs half-even DuckDB)
        (F.floor(_cos(F.col("qv"), F.col("v")) * 1e6) / 1e6).alias("cosine"),
    )
    return _ann_rerank(scored)


SQL_ANN_TOPK = f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         FLOOR(list_dot_product(q.qv, v.v) /
               (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(v.v, v.v))) * 1e6) / 1e6 AS cosine
  FROM v JOIN q ON v.vec_id != q.query_id),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored)
SELECT query_id, rank, neighbor_id, cosine FROM r WHERE rank <= {TOP_K}
"""


def ann_topk_filtered(spark, sf_dir):
    """Filtered vector search: exact top-k cosine neighbours sharing
    the query's label — the metadata-predicate + similarity pattern
    every production vector store serves (RAG with tenant/source
    filters).  The predicate is applied as a PRE-filter in the join
    condition, not post-filtering a label-blind top-k (which returns
    < k rows whenever the unfiltered neighbourhood is label-mixed):
    the query side broadcasts with its label, the corpus side streams
    map-only, and the label equality prunes ~(1/n_labels) of the
    candidate space before any cosine is computed."""
    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("v")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
    )
    pairs = e.join(
        F.broadcast(q),
        (F.col("vec_id") != F.col("query_id"))
        & (F.col("label") == F.col("qlabel")),
    )
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (F.floor(_cos(F.col("qv"), F.col("v")) * 1e6) / 1e6).alias("cosine"),
    )
    return _ann_rerank(scored)


SQL_ANN_FILTERED = f"""
WITH v AS (SELECT vec_id, label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv
      FROM v WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         FLOOR(list_dot_product(q.qv, v.v) /
               (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(v.v, v.v))) * 1e6) / 1e6 AS cosine
  FROM v JOIN q ON v.vec_id != q.query_id AND v.label = q.qlabel),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored)
SELECT query_id, rank, neighbor_id, cosine FROM r WHERE rank <= {TOP_K}
"""


LSH_MAX_PLANES = 62  # bucket ids are signed int64: 62 sign bits + the
# hamming-1 probe XOR (1 << j) must stay below 2^63.  62 planes keep
# the expected bucket at LSH_TARGET_BUCKET_POP up to ~1.5e20 rows —
# far past any corpus; the clamp is a type-safety bound, not a design
# limit.


def _auto_planes(n: int) -> int:
    """Corpus-scaled plane count: keep the expected bucket population
    (n / 2^planes) at ~LSH_TARGET_BUCKET_POP (see the scaling-rule note
    at the top constants).  Clamped to LSH_MAX_PLANES so bucket ids
    always fit a signed 64-bit long."""
    import math

    if n <= LSH_TARGET_BUCKET_POP:
        return LSH_MIN_PLANES
    return min(
        LSH_MAX_PLANES,
        max(LSH_MIN_PLANES, math.ceil(math.log2(n / LSH_TARGET_BUCKET_POP))),
    )


def _planes(dims: int = 64, tables: int = LSH_TABLES, planes: int = LSH_MIN_PLANES):
    """Deterministic pseudo-random hyperplanes, shape (dims,
    tables*planes): component (t,k,d) derived from md5(t,k,d) mapped to
    [-1, 1).  Computed driver/worker-side as plain constants — the
    planes are code, not data, so executors never fetch a model."""
    import hashlib

    cols = []
    for t in range(tables):
        for k in range(planes):
            col = []
            for d in range(dims):
                h = hashlib.md5(f"{t}:{k}:{d}".encode()).digest()
                col.append(int.from_bytes(h[:4], "big") % 200001 / 100000.0 - 1.0)
            cols.append(col)
    return np.array(cols, dtype=np.float64).T  # (dims, T*P)


def _matrix(embs: pa.Array, dims: int) -> np.ndarray:
    """Arrow batch of `embedding` lists -> (rows, dims) float64 matrix.
    `embedding` is nullable, so a null or ragged row fails loudly here
    instead of shifting every later row; an empty batch is (0, dims)."""
    if (pc.list_value_length(embs).to_numpy(zero_copy_only=False) != dims).any():
        raise ValueError(f"embedding batch holds a null or non-{dims}-dim row")
    return embs.flatten().to_numpy().astype(np.float64).reshape(len(embs), dims)


def _signatures_udf(tables: int = LSH_TABLES, planes: int = LSH_MIN_PLANES):
    """Arrow UDF: embedding batch -> `tables` bucket ids per row via
    ONE numpy matmul (B x dims) @ (dims x T*P) — the vectorized path
    for numeric kernels (48 JVM expression trees per row measured 25x
    slower via codegen explosion)."""
    pl = _planes(tables=tables, planes=planes)  # once, not per Arrow batch
    pow2 = np.array([2**k for k in range(planes)], dtype=np.int64)

    # int64 buckets end-to-end: _auto_planes exceeds 31 planes around
    # n ~ 7e10 (35 planes at the documented 10^12 scale), where an
    # int32 bucket would wrap and the 1 << j probe literal would
    # overflow IntegerType — the corpus-scaling rule must survive its
    # own design point.
    @F.arrow_udf(T.ArrayType(T.LongType()))
    def sig(embs: pa.Array) -> pa.Array:
        mat = _matrix(embs, pl.shape[0])
        bits = ((mat @ pl) >= 0).reshape(len(mat), tables, planes)
        buckets = (bits * pow2).sum(axis=2).astype("int64")  # (B, T)
        offsets = np.arange(0, buckets.size + 1, tables, dtype=np.int32)
        return pa.ListArray.from_arrays(offsets, buckets.ravel())

    return sig


def lsh_candidates(spark, sf_dir, tables: int = LSH_TABLES,
                   planes: int | None = None) -> DataFrame:
    """LSH candidate set (query_id, qv, neighbor_id, v), deduplicated.
    Plane count scales with corpus size when not forced (_auto_planes —
    expected bucket population stays constant), so candidate generation
    stays a *selective* bucket equi-join, never a cross join; the query
    side multi-probes its own bucket plus all hamming-1 buckets per
    table to buy back the recall extra planes cost (math at the top
    constants)."""
    e_raw = read_table(spark, sf_dir, "embeddings")
    if planes is None:
        # footer row count: plane sizing runs no Spark job
        planes = _auto_planes(table_rows(sf_dir, "embeddings"))
    sig = _signatures_udf(tables=tables, planes=planes)
    # ONE scan + UDF pass, then posexplode into (table, bucket) rows —
    # a per-table unionByName would re-execute the scan+UDF 12x.
    # IDS ONLY through the bucket join and the dedup (r7, guide §8:
    # decide with small rows, attach payloads once): the 64-double
    # vectors previously rode the posexplode, the join AND the
    # dropDuplicates shuffle on every candidate row — now they attach
    # via one broadcast join after the candidate set is deduplicated.
    buckets = e_raw.select(
        "vec_id", sig(F.col("embedding")).alias("bs")
    ).select("vec_id", F.posexplode("bs").alias("tbl", "bucket"))
    # multi-probe: the query probes its own bucket + `planes` hamming-1
    # buckets per table (flip each sign bit) — tables*(planes+1) probe
    # rows per query, all broadcast (tiny)
    probe_arr = F.array(
        F.col("bucket"),
        # long literal: at >31 planes (corpus ~7e10+) 1 << j exceeds
        # IntegerType; buckets are int64 so the XOR stays in-type
        *[
            F.col("bucket").bitwiseXOR(F.lit(1 << j).cast("long"))
            for j in range(planes)
        ],
    )
    q = (
        buckets.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"), "tbl",
            F.explode(probe_arr).alias("bucket"),
        )
    )
    cand_ids = (
        buckets.join(F.broadcast(q), ["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    vecs = e_raw.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    qv = vecs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    return (
        cand_ids.join(F.broadcast(qv), "query_id")
        .join(vecs.select(F.col("vec_id").alias("neighbor_id"), "v"),
              "neighbor_id")
        .select("query_id", "qv", "neighbor_id", "v")
    )


def ann_lsh_bucketed(spark, sf_dir, tables: int = LSH_TABLES,
                     planes: int | None = None):
    """Multi-table random-hyperplane LSH ANN: `tables` independent
    sign-bit signatures -> per-table multi-probe bucket equi-join ->
    union of candidates -> exact rerank, two-stage top-k per query.

    The 10^12-scale path: corpus-scaled planes keep buckets selective
    (see lsh_candidates); signatures are one numpy matmul per Arrow
    batch; rerank is two_stage_topk per query (merge window bounded
    at TOP_K·P rows), no single-task funnel.  Oracle: pinned
    pure-Python replay (numpy signatures + left-fold cosine rerank,
    scripts/replay_sketches.py — full value verification); recall vs
    brute force additionally asserted in tests at two (planes, tables)
    points."""
    cand = lsh_candidates(spark, sf_dir, tables=tables, planes=planes)
    scored = cand.select(
        "query_id",
        "neighbor_id",
        (F.floor(_cos(F.col("qv"), F.col("v")) * 1e6) / 1e6).alias("cosine"),
    )
    return _ann_rerank(scored)


# --- IVF (inverted-file) ANN: the coarse-quantizer scale path ---------------
IVF_CELLS = 16          # coarse centroids (k for the quantizer)
IVF_NPROBE = 4          # query probes this many nearest cells
IVF_CENTROID_STRIDE = 37  # deterministic centroid sample: vec_id % stride == 0


def _ivf_centroids(spark, sf_dir):
    """Deterministic coarse centroids WITHOUT k-means: a fixed stride
    sample of the corpus (vec_id % STRIDE == 0, first IVF_CELLS by id).
    On a real corpus these would come from one k-means job persisted
    next to the table; the assignment/probe machinery below is
    identical either way, and a deterministic sample keeps the whole
    operator replayable (no RNG, no iterative state)."""
    e = read_table(spark, sf_dir, "embeddings")
    rows = (
        e.filter(F.col("vec_id") % IVF_CENTROID_STRIDE == 0)
        .orderBy("vec_id")
        .limit(IVF_CELLS)
        .select("vec_id", _as_double(F.col("embedding")).alias("v"))
        .collect()  # IVF_CELLS rows — driver-safe by construction
    )
    return [(int(r["vec_id"]), list(r["v"])) for r in rows]


def _ivf_assign_udf(cmat: np.ndarray, cell_ids: np.ndarray):
    """Arrow UDF: embedding batch -> nearest coarse cell per row, via
    ONE numpy matmul against the column-normalized centroid matrix
    `cmat` (dims x C); `cell_ids[j]` names column j."""

    @F.arrow_udf(T.IntegerType())
    def assign(embs: pa.Array) -> pa.Array:
        mat = _matrix(embs, cmat.shape[0])
        return pa.array(cell_ids[np.argmax(mat @ cmat, axis=1)])

    return assign


def ann_ivf(spark, sf_dir):
    """IVF ANN: assign every vector to its nearest coarse centroid,
    then search each query only within its IVF_NPROBE nearest cells.

    Scale shape: the corpus is scanned once; assignment is ONE numpy
    matmul against the normalized centroid matrix per Arrow batch (16
    per-row JVM cosine expression trees measured ~6x slower via
    codegen explosion — same lesson as the LSH signatures); candidates
    shuffle only by cell id, bounded by the probed cells' population
    (n * nprobe / cells in expectation), never the corpus.  Oracle:
    pinned pure-Python replay (scripts/replay_sketches.py — full value
    verification); recall vs brute force additionally asserted in
    tests."""
    cents = _ivf_centroids(spark, sf_dir)
    cmat = np.array([cv for _, cv in cents], dtype=np.float64).T  # (dims, C)
    cmat = cmat / np.linalg.norm(cmat, axis=0, keepdims=True)
    cell_ids = np.array([cid for cid, _ in cents], dtype=np.int32)

    e = read_table(spark, sf_dir, "embeddings")
    assigned = e.select(
        "vec_id", _as_double(F.col("embedding")).alias("v"),
        _ivf_assign_udf(cmat, cell_ids)(F.col("embedding")).alias("cell"),
    )

    # queries are N_QUERIES rows: probe cells computed driver-side
    q_rows = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", _as_double(F.col("embedding")).alias("qv"))
        .collect()
    )
    probe_pairs = []
    for r in q_rows:
        qv = np.asarray(r["qv"], dtype=np.float64)
        order = np.argsort(-(qv @ cmat))[:IVF_NPROBE]
        for cid in cell_ids[order]:
            probe_pairs.append((int(r["vec_id"]), list(r["qv"]), int(cid)))
    q_cells = spark.createDataFrame(
        probe_pairs, "query_id long, qv array<double>, cell int"
    )

    cand = (
        assigned.join(F.broadcast(q_cells), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (F.floor(_cos(F.col("qv"), F.col("v")) * 1e6) / 1e6).alias("cosine"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _ann_rerank(cand)


QUERIES = {
    "ann_topk_bruteforce": ann_topk_bruteforce,
    "ann_topk_filtered": ann_topk_filtered,
    "ann_lsh_bucketed": ann_lsh_bucketed,
    "ann_ivf": ann_ivf,
}

ORACLES = {
    "ann_topk_bruteforce": SQL_ANN_TOPK,
    "ann_topk_filtered": SQL_ANN_FILTERED,
    # ann_lsh_bucketed / ann_ivf: sketch/quantizer candidates have no
    # cheap native-SQL form, so their oracles are pinned pure-Python
    # replays served as VALUES SQL by __spark_entry__ (full value
    # verification; scripts/replay_sketches.py); recall vs brute force
    # additionally asserted in tests
}
