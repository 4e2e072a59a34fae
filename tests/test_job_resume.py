"""Job-level tests: lineage, resume, idempotence (SURVEY §5.2 item 5,
FIXTURES.md §5)."""

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from document_extraction_service_spark.job import finished_buckets, resume_lineage, run_job

N = 200
BUCKETS = 16


@pytest.fixture()
def dirs(tmp_path):
    return str(tmp_path / "out"), str(tmp_path / "lineage")


def test_full_run_counts(spark, dirs):
    out, lin = dirs
    m = run_job(spark, f"synthetic:{N}", out, lin, "t-full", n_buckets=BUCKETS)
    assert m["n_rows"] == N
    assert m["n_ok"] == N
    # total_ms is the whole call: plan + write (wall_ms) plus lineage
    assert m["total_ms"] >= m["wall_ms"] + m["lineage_ms"] - 1
    df = spark.read.parquet(out)
    assert df.count() == N
    assert df.select("url").distinct().count() == N
    lineage = spark.read.parquet(lin)
    assert lineage.agg(F.sum("n_ok")).collect()[0][0] == N
    # the writer's DEFAULT_WRITE_OPTS reach the files: zstd, no dictionaries
    part = next(glob.iglob(f"{out}/bucket=*/*.parquet"))
    meta = pq.ParquetFile(part).metadata
    chunks = [meta.row_group(g).column(c) for g in range(meta.num_row_groups)
              for c in range(meta.num_columns)]
    assert chunks
    assert {c.compression for c in chunks} == {"ZSTD"}
    assert not any(c.has_dictionary_page for c in chunks)


def test_kill_and_resume_equals_clean_run(spark, dirs, tmp_path):
    """Partial run (simulated kill after half the buckets committed) +
    --resume rerun == one clean full run, no duplicate urls."""
    out, lin = dirs
    half = list(range(BUCKETS // 2))
    m1 = run_job(spark, f"synthetic:{N}", out, lin, "t-part",
                 n_buckets=BUCKETS, only_buckets=half)
    assert 0 < m1["n_rows"] < N

    # the resume probe is one Spark job: a declared-schema read, with
    # the bucket list de-duplicated on the driver
    sc = spark.sparkContext
    sc.setJobGroup("resume-probe", "finished_buckets over the lineage")
    try:
        done = finished_buckets(resume_lineage(spark, lin), m1["input_fingerprint"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert done == half
    assert len(sc.statusTracker().getJobIdsForGroup("resume-probe")) == 1

    m2 = run_job(spark, f"synthetic:{N}", out, lin, "t-resume",
                 n_buckets=BUCKETS, resume=True)
    assert set(m2["skipped_buckets"]) == set(half)
    assert m1["n_rows"] + m2["n_rows"] == N

    resumed = spark.read.parquet(out)
    assert resumed.count() == N
    assert resumed.select("url").distinct().count() == N

    clean_out = str(tmp_path / "clean")
    clean_lin = str(tmp_path / "clean_lineage")
    run_job(spark, f"synthetic:{N}", clean_out, clean_lin, "t-clean", n_buckets=BUCKETS)
    clean = spark.read.parquet(clean_out)
    a = {r["url"]: r["extraction"]["extracted_text"] for r in resumed.collect()}
    b = {r["url"]: r["extraction"]["extracted_text"] for r in clean.collect()}
    assert a == b


def test_rerun_is_idempotent(spark, dirs):
    """Replaying an already-finished bucket overwrites, never duplicates."""
    out, lin = dirs
    run_job(spark, f"synthetic:{N}", out, lin, "t-1", n_buckets=BUCKETS)
    run_job(spark, f"synthetic:{N}", out, lin, "t-2", n_buckets=BUCKETS)  # no resume: full replay
    df = spark.read.parquet(out)
    assert df.count() == N
    assert df.select("url").distinct().count() == N


def test_fingerprint_includes_n_buckets_and_mtime(tmp_path):
    """ADVICE r1: same input under a different modulus, or regenerated
    in place, must NOT share a fingerprint."""
    import os
    import time as _time
    from document_extraction_service_spark.job import input_fingerprint

    assert input_fingerprint("synthetic:100", 128) != input_fingerprint("synthetic:100", 64)

    d = tmp_path / "in" / "bucket=0"
    d.mkdir(parents=True)
    f = d / "part-0.parquet"
    f.write_bytes(b"aaaa")
    fp1 = input_fingerprint(str(tmp_path / "in"), 128)
    _time.sleep(0.01)
    f.write_bytes(b"bbbb")  # same size, regenerated in place
    fp2 = input_fingerprint(str(tmp_path / "in"), 128)
    assert fp1 != fp2
    assert input_fingerprint(str(tmp_path / "in"), 64) != fp2
    # nested data files (bucket dirs) are recursed into, not just sized
    (d / "part-1.parquet").write_bytes(b"cc")
    assert input_fingerprint(str(tmp_path / "in"), 128) != fp2


def test_reader_fingerprint_follows_the_hadoop_listing(spark, tmp_path):
    """warc:/jsonl:/wet:/wds: fingerprints hash the files the readers
    list (Hadoop glob): a brace set and a file:// URI, which Python's
    glob matches nothing for, change fingerprint when a matched file
    changes; a directory spec changes when a file is added to it."""
    import os

    from document_extraction_service_spark.job import input_fingerprint

    d = tmp_path / "w"
    d.mkdir()
    a = d / "a.warc"
    a.write_bytes(b"aaaa")
    (d / "b.warc").write_bytes(b"bb")
    specs = (f"warc:{d}/{{a,b}}.warc", f"warc:file://{d}/a.warc", f"warc:{d}")
    before = {s: input_fingerprint(s, 8, spark) for s in specs}
    assert before == {s: input_fingerprint(s, 8, spark) for s in specs}
    assert len(set(before.values())) == 3
    st = a.stat()
    a.write_bytes(b"abcd")  # same size, regenerated in place
    os.utime(a, ns=(st.st_atime_ns, st.st_mtime_ns + 5_000_000_000))
    after = {s: input_fingerprint(s, 8, spark) for s in specs}
    assert all(after[s] != before[s] for s in specs)
    (d / "c.warc").write_bytes(b"cc")
    assert input_fingerprint(f"warc:{d}", 8, spark) != after[f"warc:{d}"]
    assert input_fingerprint(f"warc:{d}/{{a,b}}.warc", 8, spark) == after[specs[0]]


def test_lineage_excludes_stale_buckets_from_other_input(spark, dirs):
    """ADVICE r1: buckets committed from an older, different input must
    not leak into a later run's lineage/metrics (dynamic overwrite never
    clears buckets absent from the current input)."""
    out, lin = dirs
    m1 = run_job(spark, f"synthetic:{N}", out, lin, "t-old", n_buckets=BUCKETS)
    assert m1["n_rows"] == N
    # different input, SAME output dir: hits fewer/different buckets
    m2 = run_job(spark, "synthetic:37", out, lin, "t-new", n_buckets=BUCKETS)
    assert m2["n_rows"] == 37  # not 37 + stale remainder
    lineage = spark.read.parquet(lin)
    new_rows = lineage.filter(F.col("run_id") == "t-new")
    assert new_rows.agg(F.sum("n_ok")).collect()[0][0] == 37
    # resume under the new input skips only buckets recorded for ITS fingerprint
    m3 = run_job(spark, "synthetic:37", out, lin, "t-new-resume",
                 n_buckets=BUCKETS, resume=True)
    assert m3["n_rows"] == 0


def test_job_counts_fallback_rows(spark, dirs, tmp_path):
    """A null-html row with crawl text flows through the job as a
    fallback extraction and is counted in lineage/metrics."""
    import datetime as dt
    from document_extraction_service_spark.schema import PAGES_SCHEMA

    ts = dt.datetime(2024, 1, 1)
    rows = [
        ("https://a/x", ts, b"<html><p>Real body with enough words to stay.</p></html>",
         "crawl text a", "en"),
        ("https://a/y", ts, None, "only crawl text survives here", "en"),
        ("https://a/z", ts, b"", "", "en"),
    ]
    inp = str(tmp_path / "pages_in")
    spark.createDataFrame(rows, PAGES_SCHEMA).write.parquet(inp)
    out, lin = dirs
    m = run_job(spark, inp, out, lin, "t-fb", n_buckets=BUCKETS)
    assert m["n_rows"] == 3 and m["n_ok"] == 3
    assert m["n_fallback"] == 1
    lineage = spark.read.parquet(lin)
    assert lineage.agg(F.sum("n_fallback")).collect()[0][0] == 1
    got = {r["url"]: r for r in spark.read.parquet(out).collect()}
    assert got["https://a/y"]["status"]["fallback"]
    assert got["https://a/y"]["extraction"]["extracted_text"] == "only crawl text survives here"
    assert not got["https://a/x"]["status"]["fallback"]


def test_job_budget_bucketed_input(spark, dirs, tmp_path):
    """run_job over input in all DEFAULT_BUCKETS bucket=NN dirs launches
    only its own work: the extraction write, the lineage aggregation and
    one single-task lineage write planned as a LocalTableScan.  No job
    lists the bucket dirs (one task per dir), and the lineage rows never
    pass through a Python worker."""
    from document_extraction_service_spark import fixtures as fx
    from document_extraction_service_spark.job import DEFAULT_BUCKETS

    inp = tmp_path / "bucketed"
    for b in range(DEFAULT_BUCKETS):
        (inp / f"bucket={b}").mkdir(parents=True)
        pq.write_table(fx.arrow_table(1, lo=b), str(inp / f"bucket={b}" / "part-0.parquet"))
    out, lin = dirs
    sc = spark.sparkContext
    sc.setJobGroup("job-budget", "run_job over 128 bucket dirs")
    try:
        m = run_job(spark, str(inp), out, lin, "t-budget")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert m["n_rows"] == DEFAULT_BUCKETS

    tracker = sc.statusTracker()
    jobs = set(tracker.getJobIdsForGroup("job-budget"))
    tasks = {j: [tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(j).stageIds]
             for j in jobs}
    assert not any(DEFAULT_BUCKETS in t for t in tasks.values()), tasks

    # the SQL status store maps every job to its query; it is fed by
    # the listener bus, so drain that first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    to_java = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    queries = []  # (job ids, physical plan) in execution order
    for e in to_java(spark._jsparkSession.sharedState().statusStore().executionsList()):
        mine = set(to_java(e.jobs().keySet())) & jobs
        if mine:
            queries.append((mine, e.physicalPlanDescription()))
    assert set().union(*(q[0] for q in queries)) == jobs, "a job outside any query"
    assert len(queries) == 3, [p.splitlines()[:4] for _, p in queries]
    (write_jobs, write_plan), (_, agg_plan), (lin_jobs, lin_plan) = queries
    assert "ArrowEvalPython" in write_plan and len(write_jobs) == 1
    assert "HashAggregate" in agg_plan
    assert [tasks[j] for j in lin_jobs] == [[1]]
    assert "LocalTableScan" in lin_plan and "ExistingRDD" not in lin_plan


def test_extraction_frame_split_only_in_udfs():
    """Only udfs.py turns pages into the extraction frame: every other
    module calls udfs.with_extraction instead of calling
    extraction_col() or splitting the `_res` struct itself, so the
    sinks, the streams and the driver entry cannot drift apart."""
    import ast
    import pathlib

    import document_extraction_service_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "udfs.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                f = node.func
                if (f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")) \
                        == "extraction_col":
                    offenders.append(f"{rel}:{node.lineno} extraction_col()")
            elif isinstance(node, ast.Constant) and isinstance(node.value, str) \
                    and node.value.split(".")[0] == "_res":
                offenders.append(f"{rel}:{node.lineno} {node.value!r}")
    assert not offenders, "\n".join(offenders)
