"""The workloads, each a closed loop with one client: the next
repetition starts only after the previous one has finished and been
checked.  At least two timed repetitions run, then more until their
summed wall time reaches the run length; set-up (session build plus
the warm-up) is timed apart as `setup_s`.

html_mix    fixture pages at the default family mix, laid out as
            bucket=NN parquet, so `run_job` is map-only.
curate_ops  a fixed list of operator queries over the vendored sf0.01
            tables into the noop sink.
"""

from __future__ import annotations

import math
import multiprocessing as mp
import os
import shutil
import statistics
import time

from . import checks, host
from .layers import (BODY_STAGES, SparkCounters, count_exchanges, derive_job_layers,
                     median, percentile, staged_extract)
from .tracing import Tracer, self_time_by_name, span_cost_s

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.01")
CURATE_TABLES = ["documents", "embeddings", "lineitem", "orders"]
# One query per operators module, including the four that regressed
# ~10% in the last round (rel_range_join, dedup_simhash,
# web_host_pagerank and the extraction job itself, which html_mix
# covers).  dedup_minhash_lsh and dedup_semantic are left out so that
# two timed suites fit the time budget.
CURATE_QUERIES = [
    "rel_range_join", "dedup_simhash", "ann_ivf", "text_top_ngrams",
    "media_phash_dedup", "curate_corpus", "web_host_pagerank",
]
# sized so that the UDF body (about 3.3 s of a 10 s repetition at 4
# cores) is the largest layer of the job, ahead of lineage, plan, scan,
# encode+write and the Arrow boundary
N_PAGES = 8000
# the warm-up runs the job over every WARM_STRIDE-th bucket only
WARM_STRIDE = 4
BODY_SAMPLE = 1000
# timed repetitions per run: at least this many, then more while their
# summed wall time is under --seconds (a fixed floor keeps the count
# the same on fast and slow hosts)
MIN_REPS = 2
NOOP_PASSES = 2

JOB_LAYERS = (
    "job.plan_s", "job.write_s", "job.lineage_s", "job.encode_write_s",
    "udfs.udf_s", "udfs.arrow_overhead_s", "job.accounted_frac",
)
SPARK_LAYERS = ("tasks", "tasks_failed", "stages", "jobs", "executor_run_s",
                "executor_cpu_s", "gc_s", "shuffle_write_bytes", "input_bytes",
                "output_bytes")
OP_FIELDS = ("build_s", "run_s", "jobs_build", "jobs_run", "exchanges")


E2E = ("setup_s", "docs_per_s", "query_geomean_s", "peak_pss_mb")


def per_layer_names() -> list[str]:
    """Every per-layer metric, in the order BENCHMARK.json lists them."""
    names = ["session.build_s", "job.scan_noop_s", "udfs.scan_udf_noop_s"]
    names += list(JOB_LAYERS)
    names += ["job.out_files", "job.out_bytes", "job.out_bytes_per_doc",
              "job.n_ok", "job.n_truncated", "job.n_fallback"]
    names += [f"{s}_s" for s in BODY_STAGES]
    names += ["extract.pipeline.extract_document_s",
              "extract.pipeline.docs_per_s_1core", "extract.pipeline.doc_p50_us",
              "extract.pipeline.doc_p99_us", "htmlparse.blocks_per_doc"]
    names += [f"spark.{k}" for k in SPARK_LAYERS]
    names += [f"operators.{q}.{f}" for q in CURATE_QUERIES for f in OP_FIELDS]
    names += ["trace.overhead_frac", "failed_frac"]
    return names


def geomean(values: list[float]) -> float:
    return math.exp(statistics.mean(math.log(v) for v in values))


class Result:
    """What one invocation reports, plus the evidence written beside it."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.checks_ok = True
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.evidence: dict = {"reps": []}
        self.tracer = Tracer(enabled=False)
        self.notes: list[str] = []


# --- extraction workload -----------------------------------------------------

def _gen_chunk(args: tuple[int, int, int]) -> tuple[list[dict], list[int]]:
    """Generate rows [lo, hi) and replay them through extract_document."""
    from document_extraction_service_spark.extract.pipeline import extract_document
    from document_extraction_service_spark.fixtures import gen_page

    lo, hi, seed = args
    rows, hashes = [], []
    for i in range(lo, hi):
        r = gen_page(i, seed)
        res = extract_document(r["html"], r["url"], r["lang"], r["text"])
        rows.append(r)
        hashes.append(checks.row_hash(r["url"], res))
    return rows, hashes


def generate(seed: int, cores: int) -> tuple[list[dict], list[int]]:
    """The workload's pages (a pure function of the seed) and, from a
    pure-Python replay, the hash each page's output row must have."""
    step = -(-N_PAGES // (cores * 4))
    parts = [(lo, min(N_PAGES, lo + step), seed) for lo in range(0, N_PAGES, step)]
    with mp.get_context("spawn").Pool(cores) as pool:
        chunks = pool.map(_gen_chunk, parts)
    return [r for c, _ in chunks for r in c], [h for _, c in chunks for h in c]


def write_input(spark, rows: list[dict], path: str) -> list[int]:
    """Write bucket=NN directories keyed by the job's own url hash and
    return each row's bucket."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from document_extraction_service_spark.job import DEFAULT_BUCKETS

    table = pa.table({
        "url": pa.array([r["url"] for r in rows], pa.string()),
        "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us", tz="UTC")),
        "html": pa.array([r["html"] for r in rows], pa.binary()),
        "text": pa.array([r["text"] for r in rows], pa.string()),
        "lang": pa.array([r["lang"] for r in rows], pa.string()),
    })
    os.makedirs(path)
    urls = spark.createDataFrame([(r["url"],) for r in rows], "url string")
    bucket_of = dict(
        urls.select("url", F.pmod(F.xxhash64("url"), F.lit(DEFAULT_BUCKETS)).alias("b"))
        .collect()
    )
    buckets = pa.array([bucket_of[r["url"]] for r in rows], pa.int32())
    for b in sorted(set(buckets.to_pylist())):
        d = os.path.join(path, f"bucket={b}")
        os.makedirs(d)
        pq.write_table(table.filter(pc.equal(buckets, b)),
                       os.path.join(d, "part-000.parquet"))
    return buckets.to_pylist()


def _dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of committed parquet data files under path."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def _noop_seconds(tr: Tracer, name: str, frame_fn) -> float:
    """Median wall of writing a freshly built DataFrame to the noop sink."""
    walls = []
    for k in range(NOOP_PASSES):
        with tr.span(name, f"{name}{k}"):
            t0 = time.perf_counter()
            frame_fn().write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def _pipeline_frames(spark, inp: str):
    """The job's own pipeline up to the write, rebuilt from its public
    pieces: the scan, and the scan plus the extraction UDF."""
    from pyspark.sql import functions as F

    from document_extraction_service_spark.job import read_pages
    from document_extraction_service_spark.udfs import extraction_col

    def scan():
        return read_pages(spark, inp)

    def scan_udf():
        return (
            read_pages(spark, inp).select("url", "warc_ts", "html", "lang", "text", "bucket")
            .withColumn("_res", extraction_col())
            .select("url", "warc_ts", "bucket", F.col("_res.extraction"),
                    F.col("_res.status"))
        )

    return scan, scan_udf


def body_pass(rows: list[dict], tr: Tracer) -> dict[str, float]:
    """Single-process UDF body over a fixed sample: untraced for the
    rate and per-document latency, then staged under spans for the
    per-stage self times.  Staged results must equal extract_document's."""
    from document_extraction_service_spark.extract.pipeline import extract_document

    sample = rows[:BODY_SAMPLE]
    results, per_doc = [], []
    t_all = time.perf_counter()
    for r in sample:
        t0 = time.perf_counter()
        results.append(extract_document(r["html"], r["url"], r["lang"], r["text"]))
        per_doc.append(time.perf_counter() - t0)
    body_s = time.perf_counter() - t_all

    mismatches = 0
    first = len(tr.spans)
    for r, want in zip(sample, results):
        got = staged_extract(tr, "body", r["html"], r["url"], r["lang"], r["text"])
        mismatches += got != want
    self_s = self_time_by_name(tr.spans[first:])
    out = {f"{s}_s": self_s.get(s, 0.0) for s in BODY_STAGES}
    out.update({
        "extract.pipeline.extract_document_s": body_s,
        "extract.pipeline.docs_per_s_1core": len(sample) / body_s,
        "extract.pipeline.doc_p50_us": percentile(per_doc, 50) * 1e6,
        "extract.pipeline.doc_p99_us": percentile(per_doc, 99) * 1e6,
        "htmlparse.blocks_per_doc": statistics.mean(
            r["status"]["n_blocks"] for r in results),
        "_mismatches": mismatches,
    })
    return out


def run_extraction(spark, seconds: float, trace: bool, cores: int, work: str,
                   rows: list[dict], hashes: list[int], build_s: float,
                   res: Result) -> None:
    from document_extraction_service_spark.job import run_job

    inp = os.path.join(work, "input")
    buckets = write_input(spark, rows, inp)
    urls = [r["url"] for r in rows]
    expect = checks.python_digest(urls, hashes)
    warm = [i for i, b in enumerate(buckets) if b % WARM_STRIDE == 0]
    warm_buckets = sorted({buckets[i] for i in warm})
    warm_expect = checks.python_digest([urls[i] for i in warm], [hashes[i] for i in warm])
    n = len(rows)
    counters = SparkCounters(spark)
    tr = res.tracer = Tracer(enabled=trace)

    def rep(k: int, only: list[int] | None = None) -> dict:
        out, lin = os.path.join(work, f"out{k}"), os.path.join(work, f"lin{k}")
        run = f"rep{k}"
        probe = host.membw_probe()
        c0 = host.cpu_ticks()
        first_span = len(tr.spans)
        with host.MemSampler() as mem:
            with tr.span("rep", run), tr.span("job.run_job", run) as sid:
                t0 = time.perf_counter()
                m = run_job(spark, inp, out, lin, run, only_buckets=only)
                t1 = time.perf_counter()
        if trace:
            plan, wall = m["plan_ms"] / 1e3, m["wall_ms"] / 1e3
            tr.add("job.plan", t0, t0 + plan, sid, run)
            tr.add("job.write", t0 + plan, t0 + plan + m["write_ms"] / 1e3, sid, run)
            tr.add("job.lineage", t0 + wall, t0 + wall + m["lineage_ms"] / 1e3, sid, run)
        spark_delta = counters.delta()
        got = checks.spark_digest(spark, out)
        counters.delta()  # drop the check's own stages
        files, size = _dir_bytes(out)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(lin, ignore_errors=True)
        return {
            "k": k, "outside_s": t1 - t0, "m": m,
            "docs_per_s": (len(warm) if only else n) / (t1 - t0),
            "check_ok": got == (warm_expect if only else expect),
            "spark": spark_delta, "out_files": files, "out_bytes": size,
            "n_spans": len(tr.spans) - first_span,
            "peak_pss_mb": mem.peak_mb, "membw_probe_before_s": probe,
            "steal_pct": host.steal_pct(c0, host.cpu_ticks()),
        }

    # warm-up: the whole job over a quarter of the buckets, checked
    # against the replay of just those rows
    warm_rep = rep(0, warm_buckets)
    setup_s = build_s + warm_rep["outside_s"]
    res.evidence["warmup"] = _evidence(warm_rep) | {"rows": len(warm)}
    if not warm_rep["check_ok"]:
        res.checks_ok = False

    if trace:
        scan, scan_udf = _pipeline_frames(spark, inp)
        scan_s = _noop_seconds(tr, "job.scan_noop", scan)
        scan_udf_s = _noop_seconds(tr, "udfs.scan_udf_noop", scan_udf)
        counters.delta()
        body = body_pass(rows, tr)
        if body.pop("_mismatches"):
            res.checks_ok = False
        res.layers.update(body)
        res.layers.update({"job.scan_noop_s": scan_s, "udfs.scan_udf_noop_s": scan_udf_s})

    reps, timed_s, k = [], 0.0, 1
    while k <= MIN_REPS or timed_s < seconds:
        r = rep(k)
        reps.append(r)
        timed_s += r["outside_s"]
        k += 1
    for r in reps:
        res.attempted += n
        res.failed += (n - r["m"]["n_ok"]) + int(r["spark"]["tasks_failed"])
        if not r["check_ok"]:
            res.failed += n
            res.checks_ok = False
        res.evidence["reps"].append(_evidence(r))
        m = r["m"]
        inside_s = (m["wall_ms"] + m["lineage_ms"]) / 1e3
        res.notes.append(
            f"rep {r['k']}: {r['docs_per_s']:.1f} docs/s over {r['outside_s']:.2f} s"
            f" outside run_job = plan {m['plan_ms'] / 1e3:.2f}"
            f" + write {m['write_ms'] / 1e3:.2f} + lineage {m['lineage_ms'] / 1e3:.2f}"
            f" + untimed {r['outside_s'] - inside_s:.2f} s;"
            f" run_job's own docs_per_sec {m['docs_per_sec']:.1f}")

    res.e2e = {
        "setup_s": setup_s,
        "docs_per_s": median([r["docs_per_s"] for r in reps]),
        # one query is one run_job call: a derived alias of docs_per_s
        "query_geomean_s": geomean([r["outside_s"] for r in reps]),
        "peak_pss_mb": max(r["peak_pss_mb"] for r in reps),
    }
    if not trace:
        return
    body_1core_s = n / res.layers["extract.pipeline.docs_per_s_1core"]
    per_rep = [derive_job_layers(r["outside_s"], r["m"], scan_s, scan_udf_s,
                                 body_1core_s, cores) for r in reps]
    for name in JOB_LAYERS:
        res.layers[name] = median([d[name] for d in per_rep])
    if any(d["job.encode_write_s"] < 0 for d in per_rep):
        res.notes.append("scan+UDF into noop took longer than the job's write:"
                         " encode_write_s is negative, the write split does not fit")
    for name in SPARK_LAYERS:
        res.layers[f"spark.{name}"] = median([r["spark"][name] for r in reps])
    span_s = span_cost_s()
    last = reps[-1]
    res.layers.update({
        "session.build_s": build_s,
        "job.out_files": last["out_files"],
        "job.out_bytes": last["out_bytes"],
        "job.out_bytes_per_doc": last["out_bytes"] / n,
        "job.n_ok": last["m"]["n_ok"],
        "job.n_truncated": last["m"]["n_truncated"],
        "job.n_fallback": last["m"]["n_fallback"],
        "trace.overhead_frac": median([r["n_spans"] * span_s / r["outside_s"]
                                       for r in reps]),
    })


def _evidence(r: dict) -> dict:
    return {k: v for k, v in r.items() if k != "m"} | {
        "wall_ms": r["m"]["wall_ms"], "plan_ms": r["m"]["plan_ms"],
        "write_ms": r["m"]["write_ms"], "lineage_ms": r["m"]["lineage_ms"]}


# --- operator workload -------------------------------------------------------

def table_rows(sf_dir: str, tables: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(os.path.join(sf_dir, f"{t}.parquet")).metadata.num_rows
               for t in tables)


def run_curate(spark, seconds: float, trace: bool, cache_dir: str, build_s: float,
               res: Result) -> None:
    import __spark_entry__ as entry

    qs = entry.queries()
    expected = checks.oracle_frames(
        SF_DIR, CURATE_TABLES, {q: entry.oracle_sql()[q] for q in CURATE_QUERIES},
        cache_dir)
    sc = spark.sparkContext
    counters = SparkCounters(spark)
    tr = res.tracer = Tracer(enabled=trace)

    def suite(k: int) -> dict:
        run = f"suite{k}"
        probe = host.membw_probe()
        c0 = host.cpu_ticks()
        first_span = len(tr.spans)
        per_q: dict[str, dict] = {}
        frames = {}
        failed = 0
        with host.MemSampler() as mem:
            t_suite = time.perf_counter()
            with tr.span("suite", run):
                for q in CURATE_QUERIES:
                    d: dict[str, float] = {}
                    try:
                        if trace:
                            sc.setJobGroup(f"{run}.{q}.build", q)
                        with tr.span(f"operators.{q}.build", run):
                            t1 = time.perf_counter()
                            df = qs[q](spark, SF_DIR)
                            t2 = time.perf_counter()
                        if trace:
                            sc.setJobGroup(f"{run}.{q}.run", q)
                        with tr.span(f"operators.{q}.run", run):
                            df.write.format("noop").mode("overwrite").save()
                            t3 = time.perf_counter()
                        d = {"build_s": t2 - t1, "run_s": t3 - t2}
                        frames[q] = df
                    except Exception as e:  # counted, the suite goes on
                        failed += 1
                        res.evidence.setdefault("errors", []).append(f"{q}: {e!r}"[:500])
                    per_q[q] = d
            wall = time.perf_counter() - t_suite
        spark_delta = counters.delta()
        if trace:
            sc.setLocalProperty("spark.jobGroup.id", None)
            tracker = sc.statusTracker()
            for q, d in per_q.items():
                if d:
                    d["exchanges"] = count_exchanges(frames[q])
                    d["jobs_build"] = len(tracker.getJobIdsForGroup(f"{run}.{q}.build"))
                    d["jobs_run"] = len(tracker.getJobIdsForGroup(f"{run}.{q}.run"))
        return {"k": k, "suite_s": wall, "queries": per_q, "failed": failed,
                "n_spans": len(tr.spans) - first_span,
                "n_job_groups": 2 * len(per_q) if trace else 0,
                "spark": spark_delta, "peak_pss_mb": mem.peak_mb,
                "membw_probe_before_s": probe,
                "steal_pct": host.steal_pct(c0, host.cpu_ticks())}

    # set-up: an output check that doubles as the warm-up (every query
    # collected and compared with its DuckDB oracle)
    t0 = time.perf_counter()
    for q in CURATE_QUERIES:
        res.attempted += 1
        try:
            df = qs[q](spark, SF_DIR)
            ok = checks.matches_oracle([tuple(r) for r in df.collect()], df.columns,
                                       expected[q])
        except Exception as e:  # a query that raises is a counted failure
            res.evidence.setdefault("errors", []).append(f"{q}: {e!r}"[:500])
            ok = False
        if not ok:
            res.failed += 1
            res.checks_ok = False
            res.evidence.setdefault("check_failed", []).append(q)
    setup_s = build_s + (time.perf_counter() - t0)
    res.failed += int(counters.delta()["tasks_failed"])

    reps, timed_s, k = [], 0.0, 1
    while k <= MIN_REPS or timed_s < seconds:
        r = suite(k)
        reps.append(r)
        timed_s += r["suite_s"]
        k += 1
    for r in reps:
        res.attempted += len(CURATE_QUERIES)
        res.failed += r["failed"] + int(r["spark"]["tasks_failed"])
        res.evidence["reps"].append(r)
        slow = max((q for q in r["queries"] if r["queries"][q]),
                   key=lambda q: r["queries"][q]["build_s"] + r["queries"][q]["run_s"],
                   default=None)
        res.notes.append(f"suite {r['k']}:"
                         f" {r['suite_s']:.2f} s, {r['failed']} failed, slowest {slow}")

    suite_walls = [r["suite_s"] for r in reps]
    query_walls = [d["build_s"] + d["run_s"] for r in reps for d in r["queries"].values()
                   if d]
    n_in = table_rows(SF_DIR, CURATE_TABLES)
    res.e2e = {
        "setup_s": setup_s,
        # input rows over the suite wall: a derived alias of the suite time
        "docs_per_s": median([n_in / w for w in suite_walls]),
        "query_geomean_s": geomean(query_walls),
        "peak_pss_mb": max(r["peak_pss_mb"] for r in reps),
    }
    if not trace:
        return
    for q in CURATE_QUERIES:
        for f in OP_FIELDS:
            vals = [r["queries"][q][f] for r in reps if r["queries"].get(q)]
            res.layers[f"operators.{q}.{f}"] = median(vals)
    for name in SPARK_LAYERS:
        res.layers[f"spark.{name}"] = median([r["spark"][name] for r in reps])
    # tracing's own cost inside a suite: its spans plus the job-group
    # calls that label each query's Spark jobs
    span_s, group_s = span_cost_s(), _job_group_cost_s(sc)
    res.layers["session.build_s"] = build_s
    res.layers["trace.overhead_frac"] = median(
        [(r["n_spans"] * span_s + r["n_job_groups"] * group_s) / r["suite_s"]
         for r in reps])


def _job_group_cost_s(sc, n: int = 200) -> float:
    """Seconds one `setJobGroup` call costs (a round trip to the JVM)."""
    t0 = time.perf_counter()
    for _ in range(n):
        sc.setJobGroup("perfbench.calibrate", "calibrate")
    dt = time.perf_counter() - t0
    sc.setLocalProperty("spark.jobGroup.id", None)
    return dt / n
