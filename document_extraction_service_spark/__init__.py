"""PySpark-native document extraction engine.

A from-scratch reimplementation of the *capabilities* of
ReneDorsch/document_extraction_service (reference at /root/reference/)
as an idiomatic-Spark batch pipeline over Common-Crawl-style page
tables: vectorized Arrow UDFs parse each page's html payload,
strip boilerplate by text/link density, reconstruct tables, collect
figure references, and harvest metadata — one deterministic struct
per url.

Layout:
    schema.py     — fixed StructTypes (input `pages`, output `pages_extracted`)
    fixtures.py   — deterministic synthetic pages generator (seed=42)
    htmlparse.py  — charset sniff + HTML -> block frame (stdlib parser)
    extract/      — per-document pure-Python extraction stages
    udfs.py       — the Arrow extraction UDF (the only Python on the hot path)
    job.py        — spark-submit entry: read -> repartition -> extract -> write (+ lineage/resume)
    operators/    — DataFrame-level operators (dedup, similarity, text stats, relational analogs)
    streaming/    — Structured Streaming wrapper around the same UDF chain
"""

__version__ = "0.1.0"
