"""Iceberg-native job path: snapshot-checkpointed, bucket-partitioned.

The north_rule target is an Iceberg table of Common-Crawl-style pages
with snapshot-checkpoint resume.  job.py runs the same design on a
parquet stand-in (bucket=NN dirs + dynamic partition overwrite +
file-listing fingerprints) because this container ships no Iceberg
runtime jars; THIS module is the real path, exercised end-to-end by
tests/test_iceberg.py whenever a runtime jar is provided via

    SPARK_GRAFT_ICEBERG_JARS=/path/iceberg-spark-runtime-4.0_2.13-<v>.jar

Mapping onto Iceberg primitives (vs the job.py stand-in):

  parquet stand-in (job.py)             Iceberg path (here)
  ------------------------------------  ----------------------------------
  bucket=NN partition dirs              PARTITIONED BY bucket column
                                        (an explicit int column, the
                                        same job.extraction_frame —
                                        portable to `bucket(B, url)`
                                        transform once DDL owns layout)
  dynamic partition overwrite           df.writeTo(t).overwritePartitions()
                                        (atomic snapshot commit; replays
                                        are idempotent per bucket)
  input file-listing fingerprint        input table's CURRENT SNAPSHOT ID
                                        (stable under file moves; changes
                                        iff data changes)
  lineage parquet append                lineage Iceberg table .append():
                                        the same job.lineage_rows columns
                                        plus the OUTPUT snapshot id per
                                        committed batch

Everything else is job.py's, shared and not restated here: the
extraction frame (bucket, scope, repartition, input_fp), the one bucket
scope filter on the pages and on the committed re-read, the resume rule
(job.finished_buckets: a rerun with resume=True skips buckets already
committed for the SAME input snapshot) and the per-bucket counts, so
the lineage columns are identical across sinks (run_id, bucket,
input_fingerprint, n_ok, n_failed, n_truncated, n_fallback, wall_ms,
committed_at), with output_snapshot_id added here.  Only the
fingerprint comes from the Iceberg catalog instead of an os.walk.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .job import (
    DEFAULT_BUCKETS,
    committed,
    extraction_frame,
    finished_buckets,
    lineage_rows,
)

CATALOG = "graft"
JARS_ENV = "SPARK_GRAFT_ICEBERG_JARS"


def iceberg_jars() -> str | None:
    """Comma/colon-separated Iceberg runtime jar path(s), or None."""
    v = os.environ.get(JARS_ENV, "").strip()
    return v.replace(":", ",") if v else None


def build_iceberg_session(
    warehouse: str,
    master: str | None = None,
    app_name: str = "extract-iceberg",
) -> SparkSession:
    """build_session + Iceberg extensions and a hadoop catalog rooted at
    `warehouse`.  Raises RuntimeError when no jars are configured — the
    caller (or test) gates on iceberg_jars() first."""
    jars = iceberg_jars()
    if not jars:
        raise RuntimeError(f"{JARS_ENV} not set; Iceberg runtime unavailable")
    from .session import build_session

    return build_session(
        master=master,
        app_name=app_name,
        extra={
            "spark.jars": jars,
            "spark.sql.extensions":
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            f"spark.sql.catalog.{CATALOG}":
                "org.apache.iceberg.spark.SparkCatalog",
            f"spark.sql.catalog.{CATALOG}.type": "hadoop",
            f"spark.sql.catalog.{CATALOG}.warehouse": warehouse,
        },
    )


def current_snapshot_id(spark: SparkSession, table: str) -> int | None:
    """Latest committed snapshot id of an Iceberg table (None when the
    table has no snapshots yet).  One metadata query — no data scan."""
    rows = spark.sql(
        f"SELECT snapshot_id FROM {table}.snapshots "
        # committed_at has ms granularity: back-to-back commits can tie,
        # so break ties on snapshot_id (monotone within a table) to never
        # return a stale snapshot for the resume fingerprint (ADVICE r4)
        "ORDER BY committed_at DESC, snapshot_id DESC LIMIT 1"
    ).collect()  # <=1 row by construction
    return int(rows[0][0]) if rows else None


def snapshot_fingerprint(spark: SparkSession, table: str, n_buckets: int) -> str:
    """Input identity for resume: the Iceberg snapshot id scoped by the
    bucket modulus (same reasoning as job.input_fingerprint — bucket ids
    are only comparable under one modulus)."""
    snap = current_snapshot_id(spark, table)
    return f"iceberg:{table}@{snap}|B={n_buckets}"


def run_job_iceberg(
    spark: SparkSession,
    input_table: str,
    output_table: str,
    lineage_table: str,
    run_id: str,
    n_buckets: int = DEFAULT_BUCKETS,
    resume: bool = False,
) -> dict:
    """Iceberg twin of job.run_job: read snapshot -> bucket -> extract
    -> overwritePartitions commit -> snapshot-id lineage append.
    Idempotent per (input snapshot, bucket)."""
    t0 = time.time()
    fp = snapshot_fingerprint(spark, input_table, n_buckets)
    exists = spark.catalog.tableExists
    lin = spark.table(lineage_table) if exists(lineage_table) else None
    skip = finished_buckets(lin, fp) if resume else []
    extracted = extraction_frame(spark.table(input_table), fp, n_buckets, skip)
    if not exists(output_table):
        # first run: create partitioned on the explicit bucket column
        extracted.writeTo(output_table).partitionedBy(F.col("bucket")).create()
    else:
        # replays/resumes: atomic dynamic overwrite of ONLY the bucket
        # partitions present in this batch — one snapshot commit
        extracted.writeTo(output_table).overwritePartitions()
    out_snap = current_snapshot_id(spark, output_table)
    wall_ms = int((time.time() - t0) * 1000)

    lineage, totals = lineage_rows(
        spark, committed(spark.table(output_table), fp, skip), run_id, fp, wall_ms,
        output_snapshot_id=F.lit(out_snap).cast("long"),
    )
    if lin is None:
        lineage.writeTo(lineage_table).create()
    else:
        lineage.writeTo(lineage_table).append()
    return {
        "run_id": run_id,
        "input_fingerprint": fp,
        "output_snapshot_id": out_snap,
        "n_rows": totals["n_ok"] + totals["n_failed"],
        "n_ok": totals["n_ok"],
        "wall_ms": wall_ms,
        "skipped_buckets": skip,
    }


def _self_test() -> None:  # pragma: no cover - needs Iceberg jars
    """End-to-end probe run by tests/test_iceberg.py in a SUBPROCESS
    (the Iceberg session needs jars + extensions on the JVM classpath,
    which cannot be added to an already-running test session):

      1. synthesize 200 pages -> Iceberg input table (append commit)
      2. run_job_iceberg: create output table, snapshot lineage
      3. rerun with resume=True: all buckets skipped, 0 new rows
      4. append 50 more pages -> input snapshot CHANGES -> rerun
         processes the new snapshot in full (fingerprint rotated)
    """
    import tempfile

    from .fixtures import pages_df

    wh = tempfile.mkdtemp(prefix="iceberg_wh_")
    spark = build_iceberg_session(wh, master="local[4]")
    inp = f"{CATALOG}.db.pages"
    outp = f"{CATALOG}.db.extracted"
    lin = f"{CATALOG}.db.lineage"
    try:
        pages_df(spark, 200).writeTo(inp).create()
        m1 = run_job_iceberg(spark, inp, outp, lin, "it1", n_buckets=16)
        assert m1["n_rows"] == 200 and m1["n_ok"] == 200, m1
        assert m1["output_snapshot_id"] is not None

        m2 = run_job_iceberg(spark, inp, outp, lin, "it2", n_buckets=16,
                             resume=True)
        assert m2["n_rows"] == 0, m2
        assert len(m2["skipped_buckets"]) == 16, m2

        # new input snapshot -> new fingerprint -> full reprocess
        pages_df(spark, 50).writeTo(inp).append()
        m3 = run_job_iceberg(spark, inp, outp, lin, "it3", n_buckets=16,
                             resume=True)
        assert m3["input_fingerprint"] != m1["input_fingerprint"], m3
        assert m3["n_rows"] == 250, m3
        assert m3["output_snapshot_id"] != m1["output_snapshot_id"], m3
        print("ICEBERG_SELF_TEST_OK")
    finally:
        spark.stop()


if __name__ == "__main__":  # pragma: no cover
    _self_test()
