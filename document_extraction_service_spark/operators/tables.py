"""The one parquet table reader for the operator modules — footer-
declared schemas, plus an OPT-IN scan-width guard for parallelism-
starved inputs (guide §2.5 "input skew: one huge unsplittable file …
repartition immediately after the read").

Footer-declared reads: an sf table is a local parquet file (or a
directory of part files), so its schema, byte size and row count all
come from driver-side footer reads (`pyarrow.dataset`).  The schema is
handed to `spark.read.schema(...)`, so reading a table and constructing
a query over it run no Spark job — a bare `spark.read.parquet` runs one
schema-inference job per read (CLAUDE.md gotcha #21).
`from_arrow_schema(..., prefer_timestamp_ntz=True)` equals Spark's
inferred schema for every sf table (tests/test_quality_ops.py).

Why the width guard exists (r7): a parquet table written as ONE small
file (or one row group) yields ONE scan partition no matter the session
width — `spark.sql.files.openCostInBytes` floors the split size at
4 MB, and row groups cannot split below their boundaries — so EVERY
map-side computation before the first exchange (shingle-array builds,
cosine folds, regex scoring, the extraction UDF itself) runs on a
single task.  Widening such a scan across the session cores cut the
heavy single-pass queries 30-60 % at sf0.1/local[32] (interleaved A/B:
curate_quality_gate 1.84 → 0.44 s, dedup_keep_best 3.20 → 1.92 s,
dedup_ngram_jaccard 2.40 → 1.31 s, extract_documents 1.55 → 0.92 s).

Why it is OPT-IN per query (`wide=True`), not universal: a 3-round
interleaved on/off A/B over all 51 bench queries showed the SAME
transform costs +0.3-0.9 s on queries whose construction runs several
actions (index builds, vocab localCheckpoints, centroid collects,
iterative loops) — each action re-executes the widening exchange and
every downstream job pays ~2× session-width task overheads on
near-empty partitions.  Fold/parse-heavy single-pass maps win;
multi-action small-data constructions lose; the query author knows
which shape a query is, so the reader takes a flag instead of
guessing.  Net of the universal form was +0.5 s — selective is
strictly better on both halves.

Scale safety: the repartition fires ONLY when the input is too small
to reach session width anyway — `total_bytes < width × 4 MB` (the
openCost floor means such an input CANNOT produce >= width splits),
checked against the file size the reader already has.  A
production-scale corpus (bytes >= width × 4 MB) passes through
untouched, preserving the map-only no-payload-shuffle operator
shapes; when the branch does fire the widening shuffle is bounded by
that same byte ceiling (~128 MB at 32 cores).  The round-robin
repartition is retry-deterministic (Spark sorts before round-robin
partitioning, SPARK-23207) and no operator output depends on input
partitioning (float aggregates go through DECIMAL / fixed-point sums,
collected arrays are array_sort'ed or feed set-semantics explodes,
top-k windows carry total orders — the package determinism contract).
"""

from __future__ import annotations

import os

import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

# The openCostInBytes split-size floor: an input below width x this
# cannot reach `width` scan partitions, however it is configured.
_OPEN_COST_BYTES = 4 * 1024 * 1024


def _footers(sf_dir: str, name: str) -> ds.Dataset:
    return ds.dataset(f"{sf_dir}/{name}.parquet", format="parquet")


def table_rows(sf_dir: str, name: str) -> int:
    """Row count of an sf table from its parquet footers (no Spark job)."""
    return _footers(sf_dir, name).count_rows()


def widen_narrow_scan(df: DataFrame, n_bytes: int) -> DataFrame:
    """Round-robin a parallelism-starved scan of `n_bytes` input across
    the session width; identity when the input can already reach
    session width (the production case).  See the module docstring for
    the scale argument and the measured wins."""
    width = df.sparkSession.sparkContext.defaultParallelism
    if n_bytes >= width * _OPEN_COST_BYTES:
        return df
    return df.repartition(width * 2)


def read_table(
    spark: SparkSession, sf_dir: str, name: str, wide: bool = False
) -> DataFrame:
    footers = _footers(sf_dir, name)
    schema = from_arrow_schema(footers.schema, prefer_timestamp_ntz=True)
    df = spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")
    if not wide:
        return df
    n_bytes = sum(os.path.getsize(f) for f in footers.files)
    return widen_narrow_scan(df, n_bytes)
