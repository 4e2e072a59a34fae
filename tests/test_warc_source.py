"""WARC source connector: the crawl-native input path must produce
byte-identical extraction output to the parquet pages path, and one
corrupt record must never kill a file's task."""

import datetime
import io

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from document_extraction_service_spark import fixtures
from document_extraction_service_spark.sources.warc import (
    _iter_warc_stream,
    _list_warc_paths,
    read_warc,
    write_warc,
)

N_PAGES = 24


def _fixture_records():
    recs = []
    for i in range(N_PAGES):
        p = fixtures.gen_page(i)
        recs.append({
            "url": p["url"],
            "ts": datetime.datetime(2024, 5, 1, 12, 0, i % 60),
            "payload": p["html"],
            "http": i % 2 == 0,  # half the records carry HTTP headers
        })
    return recs


def test_warc_path_equals_parquet_path(spark, tmp_path):
    """Same pages via WARC vs via the fixture DataFrame -> identical
    extracted bytes per url (the connector adds or loses nothing)."""
    from document_extraction_service_spark.udfs import with_extraction

    warc = str(tmp_path / "crawl-00000.warc")
    write_warc(warc, _fixture_records())

    via_warc = {
        r["url"]: (r["extracted_text"], r["ok"])
        for r in with_extraction(read_warc(spark, warc))
        .select(
            "url",
            F.col("extraction.extracted_text").alias("extracted_text"),
            F.col("status.ok").alias("ok"),
        )
        .collect()
    }
    via_df = {
        r["url"]: (r["extracted_text"], r["ok"])
        for r in with_extraction(fixtures.pages_df(spark, N_PAGES))
        .select(
            "url",
            F.col("extraction.extracted_text").alias("extracted_text"),
            F.col("status.ok").alias("ok"),
        )
        .collect()
    }
    assert via_warc == via_df
    assert len(via_warc) == N_PAGES


def test_warc_http_headers_stripped_and_ts_parsed(spark, tmp_path):
    warc = str(tmp_path / "one.warc")
    html = b"<html><body><p>hello world</p></body></html>"
    write_warc(warc, [{
        "url": "https://x.test/a",
        "ts": datetime.datetime(2024, 1, 2, 3, 4, 5),
        "payload": html,
        "http": True,
    }])
    rows = read_warc(spark, warc).collect()
    assert len(rows) == 1
    assert bytes(rows[0]["html"]) == html  # HTTP block stripped exactly
    assert rows[0]["warc_ts"] == datetime.datetime(2024, 1, 2, 3, 4, 5)


def test_job_runs_end_to_end_from_warc_input(spark, tmp_path):
    """The flagship job accepts `warc:<glob>` directly: full run
    extracts every record, and a --resume rerun skips every bucket
    (the fingerprint sees the WARC files)."""
    from document_extraction_service_spark.job import run_job

    recs = _fixture_records()
    write_warc(str(tmp_path / "crawl-00000.warc"), recs[: N_PAGES // 2])
    write_warc(str(tmp_path / "crawl-00001.warc"), recs[N_PAGES // 2:])
    spec = f"warc:{tmp_path}/crawl-*.warc"
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")

    from document_extraction_service_spark.sources.warc import read_wet

    wet = str(tmp_path / "wet")
    m1 = run_job(spark, spec, out, lin, run_id="w1", n_buckets=8,
                 wet_path=wet)
    assert m1["n_rows"] == N_PAGES and m1["n_ok"] == N_PAGES
    assert read_wet(spark, wet + "/bucket=*/*.txt").count() == N_PAGES
    m2 = run_job(spark, spec, out, lin, run_id="w1", n_buckets=8,
                 resume=True, wet_path=wet)
    assert m2["n_rows"] == 0 and len(m2["skipped_buckets"]) > 0
    # dynamic partition overwrite: the resumed (empty) run must NOT
    # have clobbered the previously committed WET buckets
    assert read_wet(spark, wet + "/bucket=*/*.txt").count() == N_PAGES


def test_warc_gz_member_per_record_equals_plain(spark, tmp_path):
    """Common Crawl layout: each record its own gzip member in a
    .warc.gz — must parse identically to the plain file."""
    recs = _fixture_records()
    plain = str(tmp_path / "a.warc")
    gz = str(tmp_path / "a.warc.gz")
    write_warc(plain, recs)
    write_warc(gz, recs, gzip_members=True)
    a = {r["url"]: bytes(r["html"]) for r in read_warc(spark, plain).collect()}
    b = {r["url"]: bytes(r["html"]) for r in read_warc(spark, gz).collect()}
    assert a == b and len(a) == N_PAGES


def test_wet_roundtrip_through_full_crawl_pipeline(spark, tmp_path):
    """The complete crawl shape: WARC in -> extraction -> WET out ->
    WET read back; every page's extracted text survives byte-exactly
    (incl. a non-ASCII page exercising octet_length framing)."""
    from document_extraction_service_spark.sources.warc import (
        read_wet,
        write_wet,
    )
    from document_extraction_service_spark.udfs import with_extraction

    warc = str(tmp_path / "crawl-00000.warc")
    recs = _fixture_records()
    recs.append({
        "url": "https://x.test/unicode",
        "ts": datetime.datetime(2024, 5, 1),
        "payload": (
            "<html><head><title>U</title></head><body><h1>U</h1>"
            "<h2>1. Einführung</h2><p>héllo wörld — ünïcode "
            + "wörter und zeichen über die grenzen " * 10
            + ".</p></body></html>"
        ).encode("utf-8"),
    })
    write_warc(warc, recs)
    out = with_extraction(read_warc(spark, warc)).select(
        "url",
        F.col("extraction.extracted_text").alias("extracted_text"),
        F.pmod(F.xxhash64("url"), F.lit(4)).cast("int").alias("bucket"),
    )
    expect = {r["url"]: r["extracted_text"] for r in out.collect()}
    wet_dir = str(tmp_path / "wet")
    write_wet(out, wet_dir)
    got = {
        r["url"]: r["text"]
        for r in read_wet(spark, wet_dir + "/bucket=*/*.txt").collect()
    }
    assert got == expect
    assert "héllo wörld — ünïcode" in got["https://x.test/unicode"]


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _payload = st.binary(min_size=0, max_size=200)
    _url = st.text(
        alphabet=st.characters(
            min_codepoint=33, max_codepoint=126, exclude_characters=":"
        ),
        min_size=1, max_size=30,
    ).map(lambda s: "https://h.test/" + s)

    @given(st.lists(st.tuples(_url, _payload), min_size=0, max_size=8))
    @settings(max_examples=60, deadline=None)
    def test_warc_roundtrip_arbitrary_payloads(recs):
        """Writer -> parser must recover every record exactly — in
        particular payloads CONTAINING the record separator bytes
        (Content-Length framing, not delimiter scanning, is what makes
        that safe)."""
        import os
        import tempfile

        with tempfile.TemporaryDirectory() as td:
            p = os.path.join(td, "t.warc")
            write_warc(p, [
                {"url": u, "ts": None, "payload": b} for u, b in recs
            ])
            with open(p, "rb") as f:
                got = list(_iter_warc_stream(f))
        assert [(u, h) for u, _, h in got] == recs
except ImportError:  # pragma: no cover - hypothesis is baked in
    pass


def test_job_runs_end_to_end_from_wet_input(spark, tmp_path):
    """`wet:<glob>` is a first-class job input: WET text rows enter as
    null-html pages, ride the text-fallback extraction (status
    fallback), and resume works off the WET file fingerprints — the
    re-curate-an-existing-corpus loop closed end to end."""
    from document_extraction_service_spark.job import run_job
    from document_extraction_service_spark.sources.warc import write_wet
    from document_extraction_service_spark.udfs import with_extraction

    # derive a WET corpus from the fixture crawl (the normal producer)
    warc = str(tmp_path / "crawl-00000.warc")
    write_warc(warc, _fixture_records())
    extracted = with_extraction(read_warc(spark, warc)).select(
        "url",
        F.col("extraction.extracted_text").alias("extracted_text"),
        F.pmod(F.xxhash64("url"), F.lit(4)).cast("int").alias("bucket"),
    )
    wet_dir = str(tmp_path / "wet_in")
    write_wet(extracted, wet_dir)

    spec = f"wet:{wet_dir}/bucket=*/*.txt"
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    m1 = run_job(spark, spec, out, lin, run_id="wet1", n_buckets=8)
    assert m1["n_rows"] == N_PAGES and m1["n_ok"] == N_PAGES
    assert m1["n_fallback"] == N_PAGES  # every row rode the text path
    got = {
        r["url"]: r["extracted_text"]
        for r in spark.read.parquet(out)
        .select("url", "extraction.extracted_text")
        .collect()
    }
    want = {r["url"]: r["extracted_text"] for r in extracted.collect()}
    assert got == want  # WET text survives the round trip byte-exactly
    m2 = run_job(spark, spec, out, lin, run_id="wet1", n_buckets=8,
                 resume=True)
    assert m2["n_rows"] == 0 and len(m2["skipped_buckets"]) > 0


def test_warc_chunked_emission(tmp_path):
    """The streaming reader must emit BOUNDED batches, not one batch
    per file: 5 records at n=2 -> 3 batches of 2/2/1 rows (peak task
    memory is one chunk, never the file)."""
    import pyarrow as pa

    from document_extraction_service_spark.sources.warc import (
        _iter_file_records,
        record_batches,
    )

    p = str(tmp_path / "c.warc")
    write_warc(p, _fixture_records()[:5])
    schema = pa.schema(
        [("url", pa.string()), ("ts", pa.timestamp("us")), ("html", pa.binary())]
    )
    batches = list(record_batches(_iter_file_records(p, b"response"), schema, 2))
    assert [b.num_rows for b in batches] == [2, 2, 1]


def test_warc_listing_scan_prunes_content(spark, tmp_path, plan_text):
    """The binaryFile scan must read ONLY the path column — content
    never crosses JVM->Arrow, and binaryFile's 2 GB/file cap (which
    lives behind the content column) never applies."""
    p = str(tmp_path / "p.warc")
    write_warc(p, _fixture_records()[:2])
    plan = plan_text(read_warc(spark, p))
    assert "ReadSchema: struct<path:string>" in plan
    assert "content" not in plan.split("ReadSchema:")[1].split("\n")[0]


def test_warc_gz_truncated_keeps_parsed_prefix(spark, tmp_path):
    """A truncated .warc.gz (gzip raises EOFError mid-stream) must
    not kill the task: records inflated before the damage survive."""
    full = str(tmp_path / "full.warc.gz")
    write_warc(full, _fixture_records()[:4], gzip_members=True)
    import os

    raw = open(full, "rb").read()
    trunc = str(tmp_path / "trunc.warc.gz")
    with open(trunc, "wb") as f:
        # cut into the last member's DEFLATE data (not just the 8-byte
        # trailer), so inflation genuinely truncates mid-record
        f.write(raw[: len(raw) - 20])
    got = read_warc(spark, trunc).collect()
    assert 1 <= len(got) <= 3  # prefix records survive, task alive
    assert os.path.exists(trunc)


def test_warc_skips_non_response_and_malformed():
    """request records are skipped; a record with a corrupt
    Content-Length stops parsing WITHOUT raising (prior records
    survive)."""
    good = b"<p>ok</p>"
    buf = (
        b"WARC/1.0\r\nWARC-Type: request\r\n"
        b"WARC-Target-URI: https://x.test/req\r\n"
        b"Content-Length: 3\r\n\r\nGET\r\n\r\n"
        + b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://x.test/good\r\n"
        + b"Content-Length: " + str(len(good)).encode() + b"\r\n\r\n"
        + good + b"\r\n\r\n"
        + b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://x.test/bad\r\n"
        b"Content-Length: NOT_A_NUMBER\r\n\r\nxxxx\r\n\r\n"
    )
    got = list(_iter_warc_stream(io.BytesIO(buf)))
    assert [(u, h) for u, _, h in got] == [("https://x.test/good", good)]


def test_listing_expands_globs_on_the_driver(spark, tmp_path):
    """_list_warc_paths expands a glob with Hadoop globStatus and lists
    exactly the files binaryFile lists for the glob itself (files,
    directories matched by the glob, brace sets, names holding glob
    characters); a glob matching nothing still fails."""
    for d in ("a", "b"):
        (tmp_path / d).mkdir()
        for i in range(2):
            write_warc(str(tmp_path / d / f"c{i}.warc"), _fixture_records()[:1])
    (tmp_path / "a" / "notes.txt").write_text("not a warc")
    # glob characters in matched names: the reader must not glob them again
    for name in ("c[1].warc", "c{x}.warc"):
        write_warc(str(tmp_path / "a" / name), _fixture_records()[:1])

    def listed(df):
        return sorted(r.path for r in df.collect())

    for spec in (f"{tmp_path}/a/*.warc", f"{tmp_path}/*/c1.warc",
                 f"{tmp_path}/{{a,b}}", f"{tmp_path}/a/c0.warc"):
        want = listed(spark.read.format("binaryFile").load(spec).select("path"))
        assert want
        if spec.endswith("*.warc"):
            assert any("c[1].warc" in p for p in want)
        assert listed(_list_warc_paths(spark, spec)) == want, spec
    with pytest.raises(AnalysisException):
        _list_warc_paths(spark, f"{tmp_path}/missing/*.warc")
