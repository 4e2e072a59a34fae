"""Iceberg-path integration test (VERDICT r3 next-round #3).

The container ships no Iceberg runtime jars, so the end-to-end test is
GUARDED: it runs only when SPARK_GRAFT_ICEBERG_JARS points at an
iceberg-spark-runtime jar, and skips cleanly otherwise.  The self-test
(iceberg_sink._self_test) runs in a SUBPROCESS because the Iceberg
session needs jars + SQL extensions on the JVM classpath, which cannot
be injected into the already-running shared test session.

What the guarded run proves (in one flow):
  * writeTo(...).create()/.overwritePartitions()/.append() commits
  * input identity = Iceberg snapshot id (not a file listing)
  * resume skips every bucket already committed for the same snapshot
  * appending input rows rotates the snapshot -> full reprocess

The jar-free assertions below run ALWAYS: the module must import, the
guard must refuse without jars, and run_job_iceberg's own flow (the
self-test's facts) holds over a parquet stand-in for the catalog, which
fakes only the table commits and snapshot ids.
"""

import os
import subprocess
import sys

import pytest

from document_extraction_service_spark import iceberg_sink

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HAVE_JARS = bool(iceberg_sink.iceberg_jars())


def test_guard_refuses_without_jars(monkeypatch):
    monkeypatch.delenv(iceberg_sink.JARS_ENV, raising=False)
    assert iceberg_sink.iceberg_jars() is None
    with pytest.raises(RuntimeError, match="Iceberg runtime unavailable"):
        iceberg_sink.build_iceberg_session("/tmp/nowhere")


def test_jars_env_parsing(monkeypatch):
    monkeypatch.setenv(iceberg_sink.JARS_ENV, "/a.jar:/b.jar")
    assert iceberg_sink.iceberg_jars() == "/a.jar,/b.jar"


@pytest.mark.skipif(
    not HAVE_JARS,
    reason="SPARK_GRAFT_ICEBERG_JARS not set (no Iceberg runtime in "
    "this container); set it to an iceberg-spark-runtime jar to run "
    "the end-to-end snapshot/resume flow",
)
def test_iceberg_end_to_end():
    out = subprocess.run(
        [sys.executable, "-m", "document_extraction_service_spark.iceberg_sink"],
        cwd=REPO, capture_output=True, text=True, timeout=900,
    )
    assert "ICEBERG_SELF_TEST_OK" in out.stdout, out.stderr[-3000:]


class _ParquetCatalog:
    """Stand-in for the Iceberg catalog calls run_job_iceberg makes:
    each table is a parquet dir, each commit bumps its snapshot id, and
    overwritePartitions is a dynamic overwrite of the partitions the
    batch carries."""

    def __init__(self, spark, root):
        self.spark, self.root, self.snap, self.parts = spark, root, {}, {}

    def table(self, name):
        return self.spark.read.parquet(os.path.join(self.root, name))

    def commit(self, df, name, mode):
        w = df.write.mode(mode).option("partitionOverwriteMode", "dynamic")
        if self.parts.get(name):
            w = w.partitionBy(self.parts[name])
        w.parquet(os.path.join(self.root, name))
        self.snap[name] = self.snap.get(name, 0) + 1

    def writeTo(self, df, name):
        cat = self

        class Writer:
            def partitionedBy(self, col):
                cat.parts[name] = "bucket"  # the only column it is given
                return self

            def create(self):
                cat.commit(df, name, "error")

            def overwritePartitions(self):
                cat.commit(df, name, "overwrite")

            def append(self):
                cat.commit(df, name, "append")

        return Writer()


def test_run_job_iceberg_flow_on_parquet_stand_in(spark, tmp_path, monkeypatch):
    """The self-test's facts over the stand-in: a first run extracts
    every page, a resume over the same input snapshot skips every
    bucket, and a new input snapshot is reprocessed in full.  The
    lineage rows carry job.run_job's columns plus output_snapshot_id."""
    from document_extraction_service_spark.fixtures import pages_df
    from document_extraction_service_spark.job import run_job

    cat = _ParquetCatalog(spark, str(tmp_path))
    # the session's concrete DataFrame class, not the pyspark.sql base
    monkeypatch.setattr(type(spark.range(0)), "writeTo", lambda df, name: cat.writeTo(df, name))
    monkeypatch.setattr(spark, "table", cat.table)
    monkeypatch.setattr(spark.catalog, "tableExists", lambda t: t in cat.snap)
    monkeypatch.setattr(iceberg_sink, "current_snapshot_id", lambda _s, t: cat.snap.get(t))

    pages_df(spark, 200).writeTo("pages").create()
    m1 = iceberg_sink.run_job_iceberg(spark, "pages", "out", "lin", "it1", n_buckets=16)
    assert m1["n_rows"] == 200 and m1["n_ok"] == 200, m1
    assert m1["output_snapshot_id"] is not None

    m2 = iceberg_sink.run_job_iceberg(spark, "pages", "out", "lin", "it2", n_buckets=16,
                                      resume=True)
    assert m2["n_rows"] == 0 and m2["skipped_buckets"] == list(range(16)), m2

    pages_df(spark, 50).writeTo("pages").append()
    m3 = iceberg_sink.run_job_iceberg(spark, "pages", "out", "lin", "it3", n_buckets=16,
                                      resume=True)
    assert m3["input_fingerprint"] != m1["input_fingerprint"], m3
    assert m3["n_rows"] == 250 and m3["skipped_buckets"] == [], m3
    assert m3["output_snapshot_id"] != m1["output_snapshot_id"], m3

    lin = cat.table("lin")
    run_job(spark, "synthetic:20", str(tmp_path / "pq_out"), str(tmp_path / "pq_lin"),
            "pq", n_buckets=16)
    pq_cols = spark.read.parquet(str(tmp_path / "pq_lin")).columns
    assert [c for c in lin.columns if c != "output_snapshot_id"] == pq_cols
    assert lin.groupBy("run_id").sum("n_ok").orderBy("run_id").collect() == [
        ("it1", 200), ("it3", 250)]
