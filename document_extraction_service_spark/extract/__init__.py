"""Per-document extraction stages (pure Python, no Spark imports).

Each module is independently unit-testable without a SparkSession
(SURVEY §5.2 item 2); `pipeline.extract_document` composes them and is
the single function the Arrow UDF (udfs.py) wraps.
"""
