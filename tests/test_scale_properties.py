"""Scale-property tests (SURVEY §5.2 item 6, shape-based not
timing-based — wall-clock assertions are meaningless on a noisy VM)."""

from pyspark.sql import functions as F

from document_extraction_service_spark.fixtures import pages_df


def test_bucket_uniformity_under_host_skew(spark):
    """One host owns ~40% of rows (FIXTURES.md), but url-hash buckets
    stay row-count-uniform — the reason the extraction map stage has no
    key skew regardless of host distribution."""
    df = pages_df(spark, 4000).withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(64)).cast("int")
    )
    counts = [r["c"] for r in df.groupBy("bucket").agg(F.count(F.lit(1)).alias("c")).collect()]
    assert len(counts) == 64
    avg = sum(counts) / len(counts)
    assert max(counts) < 1.6 * avg, f"bucket skew: max={max(counts)} avg={avg}"
    # and the host distribution really is skewed (the premise)
    hosts = (
        df.withColumn("host", F.regexp_extract("url", r"https://([^/]+)/", 1))
        .groupBy("host").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    top = max(r["c"] for r in hosts) / 4000
    assert top > 0.3


def test_hot_host_work_skew_bounded(spark, tmp_path):
    """SURVEY §5.2 test 6: one host owning ~50% of rows must NOT
    concentrate work.  One map task owns one bucket (the partitionBy
    write is bucket-aligned), so per-bucket row counts AND per-bucket
    input bytes are the deterministic task-work measure — wall-clock
    per task is host-lottery on this VM (module docstring).  The
    url-hash bucket key ignores the host entirely, so both stay
    uniform; the end-to-end job's lineage confirms per-task row
    uniformity on the committed output."""
    from document_extraction_service_spark.job import run_job

    n, n_buckets = 3000, 32
    hot = F.concat(
        F.lit("https://hot-host.example/p/"), F.md5("url"), F.lit(".html")
    )
    pages = pages_df(spark, n).withColumn(
        "url", F.when(F.pmod(F.xxhash64("url"), F.lit(2)) == 0, hot)
        .otherwise(F.col("url"))
    )
    inp = str(tmp_path / "hot_pages")
    pages.write.parquet(inp)

    df = spark.read.parquet(inp)
    # premise: the hot host really owns ~half the corpus
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    top = max(
        r["c"] for r in df.groupBy(host.alias("h"))
        .agg(F.count(F.lit(1)).alias("c")).collect()
    )
    assert top / n >= 0.45, f"premise broken: top host owns {top}/{n}"

    # task-work proxies: rows and input bytes per bucket
    stats = (
        df.withColumn("bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("rows"),
             F.sum(F.length("html").cast("long")).alias("bytes"))
        .collect()
    )
    assert len(stats) == n_buckets
    rows = sorted(r["rows"] for r in stats)
    byts = sorted(r["bytes"] for r in stats)
    med_r, med_b = rows[len(rows) // 2], byts[len(byts) // 2]
    assert max(rows) <= 2 * med_r, f"row skew: max={max(rows)} med={med_r}"
    # bytes are NOT uniform — the corpus deliberately contains ~1MB
    # giant pages (edge kind 2), and url-hash cannot smooth single-row
    # outliers.  The design bound is different: a task's EXCESS work
    # over the median is a handful of giant PAGES (overlapped by
    # B >> cores + small Arrow batches), never the hot HOST's 50% of
    # the corpus.  Assert exactly that: excess <= a few max-page sizes,
    # and far below the hot host's total bytes.
    max_page = df.agg(F.max(F.length("html").cast("long"))).collect()[0][0]
    hot_bytes = (
        df.filter(F.col("url").startswith("https://hot-host.example/"))
        .agg(F.sum(F.length("html").cast("long"))).collect()[0][0]
    )
    excess = max(byts) - med_b
    assert excess <= 4 * max_page, (
        f"bucket excess {excess} exceeds a few giant pages ({max_page})"
    )
    assert max(byts) < 0.25 * hot_bytes, (
        f"one bucket holds {max(byts)} of the hot host's {hot_bytes} bytes"
    )

    # end-to-end: the real job on the hot-host corpus commits uniform
    # per-bucket (= per-task) row counts
    m = run_job(spark, inp, str(tmp_path / "o"), str(tmp_path / "l"),
                "hot-host", n_buckets=n_buckets)
    assert m["n_ok"] == n
    lin = spark.read.parquet(str(tmp_path / "l"))
    per_task = sorted(
        r["c"] for r in lin.groupBy("bucket")
        .agg(F.sum(F.col("n_ok") + F.col("n_failed")).alias("c")).collect()
    )
    assert max(per_task) <= 2 * per_task[len(per_task) // 2]


def test_salted_agg_equals_plain(spark):
    """The salted two-phase aggregation is result-identical to the
    plain aggregation (correctness of the skew pattern)."""
    from document_extraction_service_spark.operators.relational import q_salted_agg

    sf = "/root/testdata/sf0.001"
    salted = {tuple(r) for r in q_salted_agg(spark, sf).collect()}
    e = spark.read.parquet(f"{sf}/events.parquet")
    plain = {
        tuple(r)
        for r in e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .collect()
    }
    assert salted == plain


def test_default_session_compatibility():
    """The driver contract must work on a vanilla SparkSession (no
    engine configs).  Run in a subprocess: getOrCreate inside this
    process would return (and then stop) the shared test session."""
    import os
    import subprocess
    import sys

    code = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
import __spark_entry__ as entry
spark = (SparkSession.builder.master("local[2]").appName("vanilla")
         .config("spark.ui.enabled", "false").getOrCreate())
assert entry.entry(spark).limit(3).count() == 3
qs = entry.queries()
assert qs["rel_pricing_summary"](spark, "/root/testdata/sf0.001").count() > 0
assert qs["extract_corpus"](spark, "/root/testdata/sf0.001").count() == 7  # families
assert qs["media_features"](spark, "/root/testdata/sf0.001").count() == 300
spark.stop()
print("VANILLA_OK")
""".format(repo=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=420
    )
    assert "VANILLA_OK" in out.stdout, out.stderr[-2000:]


# --- physical-plan assertions: the scale contract, machine-checked ----------

def test_bucketed_job_plan_is_map_only(spark, tmp_path, plan_text):
    """Bucketed input must produce a ZERO-shuffle extraction plan:
    scan -> UDF -> project, no Exchange anywhere (the 10^12-row design
    point — page payloads never cross the network)."""
    from pyspark.sql import functions as F
    from document_extraction_service_spark.fixtures import pages_df
    from document_extraction_service_spark.schema import bucketed_pages_schema
    from document_extraction_service_spark.udfs import extraction_col

    inp = str(tmp_path / "pages")
    (pages_df(spark, 200)
     .withColumn("bucket", F.pmod(F.xxhash64("url"), F.lit(8)).cast("int"))
     .repartition(8, "bucket").write.partitionBy("bucket").parquet(inp))

    pages = spark.read.schema(bucketed_pages_schema()).parquet(inp)
    extracted = (
        pages.select("url", "warc_ts", "html", "lang", "text", "bucket")
        .withColumn("_res", extraction_col())
        .select("url", "bucket", F.col("_res.status.ok").alias("ok"))
    )
    extracted.collect()
    assert "Exchange" not in plan_text(extracted)


def test_pricing_filter_pushed_to_scan(spark, plan_text):
    """The shipdate predicate must reach the parquet scan (Catalyst
    pushdown), not run as a post-scan filter only."""
    import __spark_entry__ as entry
    df = entry.queries()["rel_pricing_summary"](spark, "/root/testdata/sf0.001")
    df.collect()
    plan = plan_text(df)
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1][:200]


import pytest


# every query whose top-k goes through similarity.two_stage_topk, with
# its group key (None: one global top-k over the whole frame)
TOPK_KEYS = {
    "ann_topk_bruteforce": "query_id",
    "ann_topk_filtered": "query_id",
    "ann_lsh_bucketed": "query_id",
    "ann_ivf": "query_id",
    "text_top_ngrams": "lang",
    "text_rarity": None,
    "text_lm_score": None,
    "corpus_drift": None,
    "text_bpe_merges": None,
}


@pytest.mark.parametrize("ann", list(TOPK_KEYS))
def test_ann_topk_two_stage_window(spark, ann, plan_text):
    """No single-key global sort in ANY kernel-routed top-k: the first
    row_number window must be partitioned by (group key, input
    partition), so the merge window sees only k*P survivors (VERDICT
    r2 'What's wrong' #2).  A group key is a skewed key at crawl scale
    (a language, a query), and a global top-k's merge window is a
    single task, so neither may sort its whole input."""
    import __spark_entry__ as entry
    df = entry.queries()[ann](spark, "/root/testdata/sf0.001")
    df.collect()
    plan = plan_text(df)
    import re
    windows = re.findall(r"windowspecdefinition\(([^)]*?)\)", plan)
    key = TOPK_KEYS[ann]
    assert any("part" in w and (key is None or key in w) for w in windows), windows


def test_host_rollup_is_single_scan_no_join(spark, plan_text):
    """web_host_rollup must be scan -> project -> hash agg: computing
    the host inline, never a self-join back to the source table."""
    import __spark_entry__ as entry
    df = entry.queries()["web_host_rollup"](spark, "/root/testdata/sf0.001")
    df.collect()
    assert "Join" not in plan_text(df)


def test_broadcast_join_on_query_side(spark, plan_text):
    """ANN scans broadcast the tiny query side — the corpus side must
    never be broadcast or shuffled for the join."""
    import __spark_entry__ as entry
    df = entry.queries()["ann_topk_bruteforce"](spark, "/root/testdata/sf0.001")
    assert "BroadcastNestedLoopJoin" in plan_text(df) or "BroadcastHashJoin" in plan_text(df)


def test_cc_convergence_probe_is_join_free(spark, plan_text):
    """Connected-components convergence detection must be a single
    aggregate over the label table — the previous join-with-old-labels
    + count() paid a full shuffle join per iteration (VERDICT r3
    'What's wrong' #2)."""
    from document_extraction_service_spark.operators.dedup import _label_checksum

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 2)], "doc_id long, lbl long"
    )
    probe = _label_checksum(labels)
    probe.collect()
    assert "Join" not in plan_text(probe)


def test_cc_job_count_bounded(spark):
    """Pin the Spark job count for a fixed small graph so convergence
    detection cannot silently regress to an extra per-round job (the
    driver-synchronized latency is jobs x rounds at scale).  Measured
    31 under AQE (each exchange materialization counts as a job): 2
    graph checkpoints + initial checksum + 2 rounds x (checkpoint +
    checksum) + the final sizes collect, AQE-expanded.  The join-free
    probe plan (previous test) is the structural guard; this pin
    catches gross per-round job regressions."""
    from document_extraction_service_spark.operators.dedup import connected_components

    sc = spark.sparkContext
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "doc_a long, doc_b long"
    )
    sc.setJobGroup("cc-count", "job-count pin")
    try:
        rows = connected_components(pairs).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 7
    jobs = sc.statusTracker().getJobIdsForGroup("cc-count")
    assert 0 < len(jobs) <= 34, f"CC ran {len(jobs)} jobs for a 2-round graph"


def test_giant_page_stragglers_overlapped(spark):
    """Work-skew bound for giant pages (SURVEY §4.3, VERDICT r4
    next-round #6): a corpus where 1% of pages are ~100x larger must
    not serialize the job behind one task.  The engine's bounds are
    (a) per-page cost is capped (MAX_HTML_BYTES truncation), (b)
    buckets >> cores so giant-page buckets overlap with normal ones,
    (c) 64-row Arrow batches keep intra-task batching fine-grained.

    Proof is scheduling arithmetic on EXECUTOR-SIDE walls (ratios of
    same-run measurements — immune to host weather, CLAUDE.md #17):
    greedy scheduling gives job_wall <= total/cores + max_task, so
    asserting max_task_wall < 0.6 * (sum_task_wall / cores) bounds the
    job within 1.6x the ideal balanced wall."""
    import statistics
    import time as _time

    import pandas as pd
    from pyspark import TaskContext
    from pyspark.sql import functions as F
    from document_extraction_service_spark.extract.pipeline import extract_document
    from document_extraction_service_spark.fixtures import pages_df

    n_pages, n_buckets, cores = 4000, 128, 2  # session fixture = local[2]
    base = pages_df(spark, n_pages)
    med_len = base.agg(
        F.expr("percentile_approx(length(html), 0.5)")
    ).collect()[0][0]
    filler_unit = "<p>giant page straggler filler words for the skew test</p>"
    repeats = int(med_len * 99 // len(filler_unit)) + 1
    skewed = base.withColumn(
        "html",
        F.when(
            F.xxhash64("url") % 100 == 0,  # ~1% of pages, hash-scattered
            F.concat(
                F.col("html"),
                F.encode(F.repeat(F.lit(filler_unit), repeats), "utf-8"),
            ),
        ).otherwise(F.col("html")),
    ).withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    ).repartition(n_buckets, "bucket")

    def probe(batches):
        t0 = _time.perf_counter()
        n = nb = 0
        for pdf in batches:
            for url, html, lang in zip(pdf["url"], pdf["html"], pdf["lang"]):
                extract_document(html, url, lang)
                n += 1
                nb += len(html or b"")
        yield pd.DataFrame({
            "pid": [TaskContext.get().partitionId()],
            "n": [n], "nbytes": [nb],
            "wall": [_time.perf_counter() - t0],
        })

    rows = skewed.select("url", "html", "lang").mapInPandas(
        probe, schema="pid int, n long, nbytes long, wall double"
    ).collect()
    n_total = sum(r["n"] for r in rows)
    assert n_total == n_pages
    busy = [r for r in rows if r["n"] > 0]
    byte_sizes = sorted(r["nbytes"] for r in busy)
    # the corpus IS skewed: heaviest task carries >= 5x the median bytes
    assert byte_sizes[-1] >= 5 * statistics.median(byte_sizes), \
        "skew did not materialize; test is vacuous"
    walls = [r["wall"] for r in busy]
    max_task, per_core = max(walls), sum(walls) / cores
    assert max_task < 0.6 * per_core, (
        f"straggler dominates: max_task={max_task:.2f}s vs "
        f"per-core budget {per_core:.2f}s "
        f"(heaviest task {byte_sizes[-1]} bytes)"
    )


def test_lsh_construction_runs_no_jobs(spark):
    """Building an LSH query must not pay a driver-synchronized count()
    job per construction (VERDICT r4 next-round #5): _auto_planes sizes
    from the embeddings table's parquet footer row count, and the
    footer-declared read runs no schema-inference job.  Asserted by
    job-group accounting: construction runs ZERO Spark jobs, the first
    build included."""
    import __spark_entry__ as entry
    from document_extraction_service_spark.operators.dedup import (
        embedding_lsh_candidates,
    )
    from document_extraction_service_spark.operators.tables import (
        read_table,
        table_rows,
    )

    sc = spark.sparkContext
    sf = "/root/testdata/sf0.001"
    sc.setJobGroup("lsh-build", "construction must not count()")
    try:
        entry.queries()["ann_lsh_bucketed"](spark, sf)
        e = read_table(spark, sf, "embeddings")
        embedding_lsh_candidates(e, n=table_rows(sf, "embeddings"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup("lsh-build"))
    assert jobs == 0, f"LSH construction ran {jobs} Spark jobs"


def test_incremental_near_index_never_reshuffled(spark, tmp_path, plan_text):
    """The 100 TB contract of incremental near-dup dedup: the PERSISTED
    band index and the corpus store are probed by BROADCASTING the
    (small) batch side, so neither big side is ever re-shuffled — no
    SortMergeJoin/ShuffledHashJoin anywhere, and no Exchange partitions
    on the index key (band, bucket).  The only shuffles allowed are
    over the candidate space (new_id/old_id pairs), whose volume is
    proportional to the batch, not the corpus."""
    import re

    from pyspark.sql import functions as F
    from document_extraction_service_spark.operators.dedup import (
        incremental_near_dedup, minhash_band_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    existing = docs.filter(F.col("doc_id") % 10 != 0)
    # persist the index like a real corpus would (parquet round-trip:
    # the probe plan must start from a plain scan, not a live lineage)
    idx_path = str(tmp_path / "band_index")
    minhash_band_index(existing).write.parquet(idx_path)
    ex_path = str(tmp_path / "existing")
    existing.write.parquet(ex_path)

    batch = docs.filter(F.col("doc_id") % 10 == 0)
    out = incremental_near_dedup(
        batch, spark.read.parquet(idx_path), spark.read.parquet(ex_path)
    )
    out.collect()
    plan = plan_text(out)
    assert "SortMergeJoin" not in plan, "big side got sort-merge-joined"
    assert "ShuffledHashJoin" not in plan, "big side got shuffle-joined"
    assert plan.count("BroadcastHashJoin") >= 3, plan  # probe + attach + verify
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    for e in exchanges:
        assert "band" not in e and "bucket" not in e, \
            f"index re-shuffled on its key: {e}"


def test_incremental_emb_index_never_reshuffled(spark, tmp_path, plan_text):
    """Same contract as test_incremental_near_index_never_reshuffled,
    for the embedding member of the incremental family: the persisted
    sign-LSH bucket index and the vector store stream map-side through
    broadcast probes; no Exchange on the index key (tbl, bucket)."""
    import re

    from pyspark.sql import functions as F
    from document_extraction_service_spark.operators.dedup import (
        embedding_band_index, incremental_emb_dedup,
    )
    from document_extraction_service_spark.operators.similarity import (
        LSH_TABLES, _auto_planes,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    planes = _auto_planes(500)
    existing = e.filter(F.col("vec_id") % 10 != 0)
    idx_path = str(tmp_path / "emb_index")
    embedding_band_index(existing, LSH_TABLES, planes).write.parquet(idx_path)
    ex_path = str(tmp_path / "existing")
    existing.write.parquet(ex_path)

    out = incremental_emb_dedup(
        e.filter(F.col("vec_id") % 10 == 0),
        spark.read.parquet(idx_path),
        spark.read.parquet(ex_path),
        LSH_TABLES, planes,
    )
    out.collect()
    plan = plan_text(out)
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3, plan
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    for ex in exchanges:
        assert "tbl" not in ex and "bucket" not in ex, \
            f"emb index re-shuffled on its key: {ex}"


def test_metrics_scan_prunes_payload(spark, tmp_path, plan_text):
    """The lineage-style scan over committed output must read only
    bucket/input_fp/status — never the extraction payload column."""
    from document_extraction_service_spark.job import run_job
    out, lin = str(tmp_path / "o"), str(tmp_path / "l")
    run_job(spark, "synthetic:100", out, lin, "t-prune", n_buckets=8)
    from pyspark.sql import functions as F
    scan = (spark.read.parquet(out)
            .filter(F.col("input_fp").isNotNull())
            .groupBy("bucket").agg(F.sum(F.col("status.ok").cast("long"))))
    scan.collect()
    plan = plan_text(scan)
    rs = plan.split("ReadSchema:")[-1]
    assert "extraction" not in rs


def test_no_hof_lambda_indexes_a_derived_array(spark):
    """Regression guard for the HOF re-eval trap (CLAUDE.md gotcha
    #19): a lambda that indexes its source via element_at(split(...))
    re-evaluates the whole split per element on the interpreted HOF
    path (~75 ms/row when nested — a >60x slowdown found in r4).
    Sliding windows must be built with slice+zip_with and folds with
    F.aggregate, so no analyzed plan may contain an element_at applied
    directly to a split() expression."""
    import __spark_entry__ as entry

    offenders = []
    for name, fn in entry.queries().items():
        plan = (
            fn(spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution().analyzed().toString()
        )
        if "element_at(split(" in plan:
            offenders.append(name)
    assert not offenders, f"derived-array indexing in HOF lambda: {offenders}"


def test_incremental_oversized_batch_degrades_to_shuffle(spark, tmp_path):
    """The broadcast-the-batch contract has a safety net (VERDICT r5
    next-round #5): a batch over INCR_BROADCAST_MAX_ROWS rows falls
    back to shuffle joins with IDENTICAL output instead of OOMing the
    driver.  Both routing directions are pinned: the default path
    broadcasts, the forced-fallback path produces the same rows for
    both the MinHash and the embedding member of the family."""
    from document_extraction_service_spark.operators import dedup as D
    from document_extraction_service_spark.operators.similarity import (
        LSH_TABLES, _auto_planes,
    )
    from document_extraction_service_spark.operators.tables import table_rows

    # routing: the decision helper reads the module threshold at call
    # time (driver-side), so monkeypatching it exercises the oversize
    # branch without materializing 5M rows
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    assert D._batch_probe_hint(batch, None) is F.broadcast
    orig = D.INCR_BROADCAST_MAX_ROWS
    D.INCR_BROADCAST_MAX_ROWS = 0
    try:
        assert D._batch_probe_hint(batch, None) is not F.broadcast
    finally:
        D.INCR_BROADCAST_MAX_ROWS = orig

    # near variant: broadcast and shuffle paths agree row-for-row
    existing = docs.filter(F.col("doc_id") % 10 != 0)
    idx = D.minhash_band_index(existing)
    want = sorted(
        map(tuple, D.incremental_near_dedup(
            batch, idx, existing, broadcast_batch=True
        ).collect())
    )
    got = sorted(
        map(tuple, D.incremental_near_dedup(
            batch, idx, existing, broadcast_batch=False
        ).collect())
    )
    assert got == want and len(want) == batch.count()

    # embedding variant
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    planes = _auto_planes(table_rows("/root/testdata/sf0.001", "embeddings"))
    vb = e.filter(F.col("vec_id") % 10 == 0)
    ve = e.filter(F.col("vec_id") % 10 != 0)
    vidx = D.embedding_band_index(ve, LSH_TABLES, planes)
    want_e = sorted(
        map(tuple, D.incremental_emb_dedup(
            vb, vidx, ve, LSH_TABLES, planes, broadcast_batch=True
        ).collect())
    )
    got_e = sorted(
        map(tuple, D.incremental_emb_dedup(
            vb, vidx, ve, LSH_TABLES, planes, broadcast_batch=False
        ).collect())
    )
    assert got_e == want_e and len(want_e) == vb.count()
