"""Fixed schemas for the extraction engine.

The reference is fixed-schema via Pydantic
(/root/reference/app/core/schemas/datamodels.py) — validation is its
only type system.  Here the equivalent is a pair of StructTypes
declared once: the input `pages` table (shape fixed by
BASELINE.json input_hint) and the output `pages_extracted` table
(FIXTURES.md §4).  No schema inference anywhere.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input: Common-Crawl-style pages table
# (url:string, warc_ts:timestamp, html:binary, text:string, lang:string)
# ---------------------------------------------------------------------------
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

def bucketed_pages_schema() -> T.StructType:
    """PAGES_SCHEMA + the bucket partition column, as a FRESH StructType.
    Never use PAGES_SCHEMA.add(...): StructType.add mutates the receiver
    in place, so it would append a `bucket` field to the module-global
    schema on every call — poisoning every later PAGES_SCHEMA user in
    the same process (found when a bucketed read corrupted the
    synthetic generator's mapInArrow schema)."""
    return T.StructType(
        list(PAGES_SCHEMA.fields) + [T.StructField("bucket", T.IntegerType(), True)]
    )


# ---------------------------------------------------------------------------
# Output: one struct per url.
# Mirrors the reference's Document output model
# (/root/reference/app/core/schemas/datamodels.py:12-21) with bbox
# geometry replaced by char spans into `extracted_text`.
# ---------------------------------------------------------------------------
SPAN = T.StructType(
    [
        T.StructField("start", T.IntegerType(), True),
        T.StructField("end", T.IntegerType(), True),
    ]
)

CHAPTER = T.StructType(
    [
        # reference: Chapter{header, paragraphs} (datamodels.py:24-45)
        T.StructField("header", T.StringType(), True),
        T.StructField(
            "paragraphs",
            T.ArrayType(
                T.StructType(
                    [T.StructField("sentences", T.ArrayType(T.StringType()), True)]
                )
            ),
            True,
        ),
    ]
)

TABLE = T.StructType(
    [
        # reference: Table{rows, columns, description, name, table_header}
        # (datamodels.py:78-104); grid flattened to rows + cell_types.
        T.StructField("name", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("header", T.ArrayType(T.StringType()), True),
        T.StructField("header_kind", T.StringType(), True),  # 'row' | 'column'
        T.StructField("rows", T.ArrayType(T.ArrayType(T.StringType())), True),
        T.StructField(
            "cell_types", T.ArrayType(T.ArrayType(T.StringType())), True
        ),  # WORD | NUM | UNKNOWN (reference text_detection.py:32-53)
        T.StructField("span", SPAN, True),
    ]
)

IMAGE = T.StructType(
    [
        # reference: Image{base64_file, description, name} (datamodels.py:72-75)
        # — cropped bytes replaced by the src reference (north_star).
        T.StructField("name", T.StringType(), True),
        T.StructField("src", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("span", SPAN, True),
    ]
)

# reference: Author{first_name, last_name} (datamodels.py:66-68).
AUTHOR = T.StructType(
    [
        T.StructField("first_name", T.StringType(), True),
        T.StructField("last_name", T.StringType(), True),
    ]
)

# reference: Reference{doi, authors, title} (datamodels.py:60-64); raw
# keeps the on-page string (authors come from repeatable
# citation_author pairs inside citation_reference metas — the on-page
# stand-in for the reference's Crossref enrichment).
REFERENCE = T.StructType(
    [
        T.StructField("doi", T.StringType(), True),
        T.StructField("authors", T.ArrayType(AUTHOR), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("raw", T.StringType(), True),
    ]
)

METADATA = T.StructType(
    [
        # reference: MetaData (datamodels.py:48-69) minus the network-only
        # Crossref call (SURVEY §2.1 S6): subtitle/journal/issn/references
        # are harvested from on-page citation_* meta tags and <cite>
        # elements; publisher/description from meta/OpenGraph tags.
        T.StructField("title", T.StringType(), True),
        T.StructField("subtitle", T.StringType(), True),
        # structured authors (Author parity, datamodels.py:66-68): split
        # from on-page author/citation_author metas ("Last, First" is the
        # citation_* convention; "First Last" the plain-author one)
        T.StructField("authors", T.ArrayType(AUTHOR), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("doi", T.StringType(), True),
        T.StructField("publisher", T.StringType(), True),
        T.StructField("journal", T.StringType(), True),
        T.StructField("issn", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("references", T.ArrayType(REFERENCE), True),
    ]
)

EXTRACTION = T.StructType(
    [
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("chapters", T.ArrayType(CHAPTER), True),
        T.StructField("tables", T.ArrayType(TABLE), True),
        T.StructField("images", T.ArrayType(IMAGE), True),
        T.StructField("metadata", METADATA, True),
    ]
)

STATUS = T.StructType(
    [
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("truncated", T.BooleanType(), False),
        # crawl-text fallback used (html payload null/empty but the
        # crawl-provided text column carried content)
        T.StructField("fallback", T.BooleanType(), False),
        T.StructField("n_blocks", T.IntegerType(), False),
        T.StructField("n_tables", T.IntegerType(), False),
        T.StructField("n_images", T.IntegerType(), False),
    ]
)

# Combined UDF return type: the full per-row result.
RESULT = T.StructType(
    [
        T.StructField("extraction", EXTRACTION, True),
        T.StructField("status", STATUS, True),
    ]
)
