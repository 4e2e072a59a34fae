"""Per-layer measurement helpers: the staged UDF body, the Spark status
store totals, the plan's exchange count and the derived-layer
subtractions.  Everything here observes the engine from outside, by
calling its public functions; nothing in the engine is changed."""

from __future__ import annotations

import math
import re
import statistics

from document_extraction_service_spark.extract.images import extract_images
from document_extraction_service_spark.extract.metadata import extract_metadata
from document_extraction_service_spark.extract.pipeline import extract_document
from document_extraction_service_spark.extract.tables import extract_tables
from document_extraction_service_spark.extract.text import build_text, classify_blocks
from document_extraction_service_spark.htmlparse import parse_html

from .tracing import Tracer

BODY_STAGES = (
    "htmlparse.parse_html",
    "extract.text.classify_blocks",
    "extract.text.build_text",
    "extract.tables.extract_tables",
    "extract.images.extract_images",
    "extract.metadata.extract_metadata",
)


def staged_extract(tr: Tracer, run: str, html: bytes | None, url: str,
                   lang: str | None, text: str | None) -> dict:
    """`extract_document` split into its stages, each under a span.

    The composition must stay exactly that of extract/pipeline.py, so
    the trace measures the same program; tests compare the result with
    `extract_document` on every fixture family.  A null-html row with
    crawl text takes the engine's text fallback, which runs no stage.
    """
    with tr.span("extract.pipeline.extract_document", run):
        if (html is None or not html.strip()) and text and text.strip():
            return extract_document(html, url, lang, text)
        with tr.span("htmlparse.parse_html", run):
            parsed = parse_html(html)
        with tr.span("extract.text.classify_blocks", run):
            labels = classify_blocks(parsed.blocks)
        with tr.span("extract.text.build_text", run):
            extracted_text, chapters, offsets, title_guess = build_text(
                parsed.blocks, labels
            )
        with tr.span("extract.tables.extract_tables", run):
            tables, tables_truncated = extract_tables(
                parsed, labels, parsed.blocks, offsets
            )
        with tr.span("extract.images.extract_images", run):
            images = extract_images(parsed, offsets)
        with tr.span("extract.metadata.extract_metadata", run):
            metadata = extract_metadata(parsed, chapters, title_guess, lang)
        return {
            "extraction": {
                "extracted_text": extracted_text,
                "chapters": chapters,
                "tables": tables,
                "images": images,
                "metadata": metadata,
            },
            "status": {
                "ok": True,
                "error": None,
                "truncated": bool(parsed.truncated or tables_truncated),
                "fallback": False,
                "n_blocks": len(parsed.blocks),
                "n_tables": len(tables),
                "n_images": len(images),
            },
        }


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


# --- Spark status store ----------------------------------------------------

STAGE_FIELDS = {
    "tasks": lambda s: s.numTasks(),
    "tasks_failed": lambda s: s.numFailedTasks(),
    "executor_run_s": lambda s: s.executorRunTime() / 1e3,
    "executor_cpu_s": lambda s: s.executorCpuTime() / 1e9,
    "gc_s": lambda s: s.jvmGcTime() / 1e3,
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "input_bytes": lambda s: s.inputBytes(),
    "output_bytes": lambda s: s.outputBytes(),
}


class SparkCounters:
    """Totals from Spark's status store over the stages and jobs that
    started since the previous `delta()` call (works with the UI off)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._seen_stage = self._max_stage()
        self._seen_job = self._max_job()

    def _stages(self):
        seq = self._store.stageList(None, False, False, self._no_quantiles, None)
        return [seq.apply(i) for i in range(seq.size())]

    def _max_stage(self) -> int:
        return max((s.stageId() for s in self._stages()), default=-1)

    def _max_job(self) -> int:
        seq = self._store.jobsList(None)
        return max((seq.apply(i).jobId() for i in range(seq.size())), default=-1)

    def delta(self) -> dict[str, float]:
        new = [s for s in self._stages() if s.stageId() > self._seen_stage]
        out = {k: float(sum(f(s) for s in new)) for k, f in STAGE_FIELDS.items()}
        out["stages"] = float(len({s.stageId() for s in new}))
        top_job = self._max_job()
        out["jobs"] = float(top_job - self._seen_job)
        self._seen_stage = max([self._seen_stage] + [s.stageId() for s in new])
        self._seen_job = top_job
        return out


_EXCHANGE = re.compile(r"(?:^|- )(\w*Exchange)\b", re.M)


def count_exchanges(df) -> int:
    """Exchange nodes (shuffle, broadcast, reused) in the DataFrame's
    physical plan as planned, before adaptive execution re-plans it."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(_EXCHANGE.findall(plan))


# --- derived layers ----------------------------------------------------------

def derive_job_layers(outside_s: float, m: dict, scan_s: float, scan_udf_s: float,
                      body_1core_s: float, cores: int) -> dict:
    """Split one outside-timed `run_job` call into layers.

    `m` is run_job's own metrics dict (milliseconds): plan, write and
    lineage are each timed by run_job, so `job.accounted_frac` (their
    sum over the outside wall) falls short of 1 by whatever the call
    spends outside those phases.  `scan_s` is the scan alone into a
    noop sink, `scan_udf_s` the scan plus the extraction UDF, and
    `body_1core_s` the single-process time of the UDF body over the
    same rows.  `job.encode_write_s` is a residual (write minus
    scan+UDF); it is negative when the noop split does not fit the
    write.
    """
    plan_s = m["plan_ms"] / 1e3
    write_s = m["write_ms"] / 1e3
    lineage_s = m["lineage_ms"] / 1e3
    udf_s = scan_udf_s - scan_s
    return {
        "job.plan_s": plan_s,
        "job.write_s": write_s,
        "job.lineage_s": lineage_s,
        "job.encode_write_s": write_s - scan_udf_s,
        "udfs.udf_s": udf_s,
        "udfs.arrow_overhead_s": udf_s - body_1core_s / cores,
        "job.accounted_frac": (plan_s + write_s + lineage_s) / outside_s,
    }


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
