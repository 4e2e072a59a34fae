"""Derived-layer subtractions and the staged UDF body."""

import pytest

from document_extraction_service_spark import fixtures as fx
from document_extraction_service_spark.extract.pipeline import extract_document
from perfbench.layers import BODY_STAGES, derive_job_layers, percentile, staged_extract
from perfbench.tracing import Tracer, self_time_by_name


def test_derive_job_layers():
    m = {"plan_ms": 1000, "write_ms": 5000, "wall_ms": 6000, "lineage_ms": 1500}
    d = derive_job_layers(outside_s=8.0, m=m, scan_s=1.0, scan_udf_s=4.0,
                          body_1core_s=6.0, cores=4)
    assert d["job.plan_s"] == pytest.approx(1.0)
    assert d["job.write_s"] == pytest.approx(5.0)
    assert d["job.lineage_s"] == pytest.approx(1.5)       # run_job's own timer
    assert d["job.encode_write_s"] == pytest.approx(1.0)  # write - scan_udf
    assert d["udfs.udf_s"] == pytest.approx(3.0)          # scan_udf - scan
    # scan+UDF minus scan minus 1-core body / cores
    assert d["udfs.arrow_overhead_s"] == pytest.approx(4.0 - 1.0 - 6.0 / 4)
    # 0.5 s of the outside wall lies outside every phase run_job times
    assert d["job.accounted_frac"] == pytest.approx(7.5 / 8.0)


def test_encode_write_goes_negative_when_the_split_does_not_fit():
    m = {"plan_ms": 0, "write_ms": 3000, "wall_ms": 3000, "lineage_ms": 0}
    d = derive_job_layers(3.0, m, scan_s=1.0, scan_udf_s=3.5, body_1core_s=4.0, cores=4)
    assert d["job.encode_write_s"] == pytest.approx(-0.5)


def test_percentile_nearest_rank():
    vals = list(range(1, 101))
    assert percentile(vals, 50) == 50
    assert percentile(vals, 99) == 99
    assert percentile([3.0], 99) == 3.0


def _pages_by_family():
    want = set(fx.FAMILIES)
    seen, out = set(), []
    for i in range(3000):
        fam = fx.family_of(i)
        # adversarial kinds differ by i % 5; kind 4 is the utf-16 page
        key = (fam, i % 5) if fam == "adversarial" else fam
        if key not in seen:
            seen.add(key)
            out.append(fx.gen_page(i))
        if want <= {k if isinstance(k, str) else k[0] for k in seen} and \
                sum(isinstance(k, tuple) for k in seen) == 5:
            break
    return out


def test_staged_body_equals_extract_document_on_every_family():
    pages = _pages_by_family()
    fams = {p["url"].split("/")[3] for p in pages}
    assert fams == set(fx.FAMILIES)
    assert any(p["html"].startswith(b"\xff\xfe") for p in pages)  # utf-16 BOM page
    tr = Tracer()
    for p in pages:
        want = extract_document(p["html"], p["url"], p["lang"], p["text"])
        got = staged_extract(tr, "t", p["html"], p["url"], p["lang"], p["text"])
        assert got == want, p["url"]
    assert set(BODY_STAGES) <= set(self_time_by_name(tr.spans))


def test_staged_body_reports_table_truncation():
    # colspan bomb: the table grid budget truncates while the parse does not
    html = ("<html><body><p>Intro text.</p><table><tr>"
            + "<td colspan=64>x</td>" * 300 + "</tr>"
            + "<tr><td>y 1.5</td></tr>" * 300 + "</table></body></html>").encode()
    want = extract_document(html, "u", "en")
    assert want["status"]["truncated"]
    assert staged_extract(Tracer(), "t", html, "u", "en", None) == want


def test_staged_body_takes_the_text_fallback_for_null_html():
    p = fx.gen_page(1)
    tr = Tracer()
    got = staged_extract(tr, "t", None, p["url"], p["lang"], p["text"])
    assert got == extract_document(None, p["url"], p["lang"], p["text"])
    assert got["status"]["fallback"]
    assert [s.name for s in tr.spans] == ["extract.pipeline.extract_document"]
