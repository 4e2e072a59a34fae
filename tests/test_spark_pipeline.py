"""Spark-layer tests (SURVEY §5.2 items 3-4): the DataFrame plumbing
adds nothing to the pure-Python engine, and results are byte-identical
regardless of partitioning."""

import json

import pytest
from pyspark.sql import functions as F

from document_extraction_service_spark import fixtures as fx
from document_extraction_service_spark.extract.pipeline import extract_document
from document_extraction_service_spark.fixtures import pages_df
from document_extraction_service_spark.schema import PAGES_SCHEMA
from document_extraction_service_spark.udfs import with_extraction

N = 120

# Rows the fixture mix draws rarely or never below N: the null-html
# text fallback, null and empty payloads, a UTF-16 BOM page, and the
# adversarial kinds 0, 1 and 3 (ids 17/64/97 below N are kinds 2/4/2).
EDGE_ROWS = [
    {"url": "https://edge.example/fallback", "warc_ts": None, "html": None,
     "text": "Only the crawl text survives. It has two sentences.", "lang": "en"},
    {"url": "https://edge.example/null", "warc_ts": None, "html": None,
     "text": None, "lang": None},
    {"url": "https://edge.example/empty", "warc_ts": None, "html": b"",
     "text": None, "lang": "de"},
    {"url": "https://edge.example/utf16", "warc_ts": None,
     "html": b"\xff\xfe" + ("<html><body><h1>Grüße</h1><p>Ein kurzer Absatz "
                            "aus Köln mit genug Wörtern.</p></body></html>").encode("utf-16-le"),
     "text": None, "lang": None},
] + [fx.gen_page(i) for i in (200, 151, 713)]


@pytest.fixture(scope="module")
def extracted_rows(spark):
    pages = pages_df(spark, N, partitions=4).unionByName(
        spark.createDataFrame(EDGE_ROWS, PAGES_SCHEMA))
    return {r["url"]: r for r in with_extraction(pages).collect()}


def test_row_count_and_schema(extracted_rows, spark):
    assert len(extracted_rows) == N + len(EDGE_ROWS)
    df = with_extraction(pages_df(spark, 5, partitions=1))
    assert [f.name for f in df.schema.fields] == ["url", "warc_ts", "extraction", "status"]


def test_spark_equals_pure_python(extracted_rows):
    """Row-for-row: Spark UDF output == direct call of the same function."""
    for row in [fx.gen_page(i) for i in range(N)] + EDGE_ROWS:
        want = extract_document(row["html"], row["url"], row["lang"], row["text"])
        got = extracted_rows[row["url"]]
        assert got["extraction"]["extracted_text"] == want["extraction"]["extracted_text"]
        assert got["status"].asDict() == want["status"]
        # deep compare via JSON round-trip (Row -> dict)
        assert json.loads(json.dumps(got["extraction"].asDict(recursive=True))) == json.loads(
            json.dumps(want["extraction"], ensure_ascii=False)
        )


def test_determinism_across_partitioning(spark):
    """Same input at different partition counts -> byte-identical
    extraction per url (SURVEY §5.2 item 4)."""
    a = with_extraction(pages_df(spark, 60, partitions=2))
    b = with_extraction(pages_df(spark, 60, partitions=7).repartition(13, F.xxhash64("url")))
    da = {r["url"]: r["extraction"]["extracted_text"] for r in a.collect()}
    db = {r["url"]: r["extraction"]["extracted_text"] for r in b.collect()}
    assert da == db


def test_html_not_in_output_plan(spark):
    """The heavy html column must be consumed by the UDF stage and never
    reach the output schema (scale guard: no payload re-shuffle)."""
    df = with_extraction(pages_df(spark, 5, partitions=1))
    assert "html" not in df.columns


def test_error_rows_captured(extracted_rows):
    """Null, empty and re-encoded payloads come back ok through the
    Arrow boundary, each on its own path."""
    got = {row["url"].rsplit("/", 1)[1]: extracted_rows[row["url"]] for row in EDGE_ROWS[:4]}
    assert all(r["status"]["ok"] and r["status"]["error"] is None for r in got.values())
    assert got["fallback"]["status"]["fallback"]
    assert got["fallback"]["extraction"]["extracted_text"] == EDGE_ROWS[0]["text"]
    for kind in ("null", "empty"):  # None html -> empty page, still ok
        assert not got[kind]["status"]["fallback"]
        assert got[kind]["extraction"]["extracted_text"] == ""
    assert "Köln" in got["utf16"]["extraction"]["extracted_text"]
