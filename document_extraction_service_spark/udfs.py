"""Vectorized UDF layer — the only Python on the hot path.

One iterator-form Arrow UDF runs the whole per-document pipeline
(SURVEY §2.10 folds the reference's ~40 per-document operators into
the UDF chain) and returns the RESULT struct directly through Arrow —
no JSON round trip (measured 2.3x faster on the write path than
udf->json->from_json, because the JVM otherwise re-parses the full
nested payload at materialization time).  The batches stay pyarrow
arrays end to end: no pandas Series or DataFrame is built around the
nested struct.  Against the earlier pandas-Series form, same session,
noop sink, 8k pages, local[4] on 4 vCPUs, 5 alternating rounds:
median 5.21 -> 5.11 s, rows identical.

The iterator form matters: module imports and compiled regexes are
paid once per Python worker, not per batch — the inversion of the
reference's per-document spaCy reload
(/root/reference/app/core/extraction_modul/extraction_model.py:87).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type

from .extract.pipeline import extract_document
from .schema import RESULT

_RESULT_ARROW = to_arrow_type(RESULT)


@F.arrow_udf(RESULT)
def extract_struct_udf(
    it: Iterator[tuple[pa.Array, pa.Array, pa.Array, pa.Array]],
) -> Iterator[pa.Array]:
    for html, url, lang, text in it:
        res = [
            extract_document(h, u, l, t)
            for h, u, l, t in zip(
                html.to_pylist(), url.to_pylist(), lang.to_pylist(), text.to_pylist()
            )
        ]
        yield pa.array(res, type=_RESULT_ARROW)


def extraction_col() -> Column:
    """Column expression over a pages frame's html/url/lang/text:
    parse+extract -> RESULT struct (Arrow-direct).  `text` is the
    crawl-provided plain text, used only as the null-html fallback
    (status.fallback)."""
    return extract_struct_udf("html", "url", "lang", "text")


def with_extraction(df: DataFrame, *carry: str) -> DataFrame:
    """pages df -> (url, warc_ts, *carry, extraction, status): the one
    place the RESULT struct is split into its two columns.

    The heavy `html` column is consumed here and not carried further —
    downstream stages and writes never shuffle page payloads.
    """
    keep = ("url", "warc_ts", *carry)
    return df.select(*keep, extraction_col().alias("_res")).select(
        *keep,
        F.col("_res.extraction").alias("extraction"),
        F.col("_res.status").alias("status"),
    )
