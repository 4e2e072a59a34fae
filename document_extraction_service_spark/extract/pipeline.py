"""Per-document pipeline: html bytes -> extraction dict.

The composition mirrors the reference's fixed strategy-phase order
(/root/reference/app/core/task_api/__init__.py:38-58): parse ->
classify text areas -> tables -> metadata/images -> text assembly —
except classification masks are immutable and all per-document
"globals" (the reference's mutable class attributes,
internal_models.py:54-57) are locals here, so documents are
trivially parallel and the UDF is deterministic (safe task retries).

This module has no Spark imports: the same function backs the Arrow
UDF and the no-Spark unit tests (Spark vs pure-Python equivalence,
SURVEY §5.2 item 3).
"""

from __future__ import annotations

from ..htmlparse import _norm_ws, parse_html
from .images import extract_images
from .metadata import extract_metadata
from .tables import extract_tables
from .text import build_text, classify_blocks

_EMPTY_EXTRACTION = {
    "extracted_text": "",
    "chapters": [],
    "tables": [],
    "images": [],
    "metadata": {
        "title": None, "subtitle": None, "authors": [], "lang": None,
        "doi": None, "publisher": None, "journal": None, "issn": None,
        "description": None, "references": [],
    },
}


def extract_document(
    html: bytes | None, url: str, lang_hint: str | None,
    text: str | None = None,
) -> dict:
    """-> {'extraction': ..., 'status': ...} matching schema.RESULT.

    Never raises: adversarial rows produce status.ok=False with the
    error captured (the reference silently 500s its background task on
    a bad PDF; SURVEY §7.4 #3 requires capture instead).

    When the html payload is null/empty but the crawl-provided `text`
    column carries content (common at Common-Crawl scale: WAT-only
    records, fetch truncation), the text passes through as the
    extraction — flagged status.fallback so downstream can segregate
    rows that never saw the DOM pipeline."""
    try:
        if (html is None or not html.strip()) and text and text.strip():
            return _text_fallback(text, lang_hint)
        parsed = parse_html(html)
        labels = classify_blocks(parsed.blocks)
        extracted_text, chapters, offsets, title_guess = build_text(
            parsed.blocks, labels
        )
        tables, tables_truncated = extract_tables(parsed, labels, parsed.blocks, offsets)
        images = extract_images(parsed, offsets)
        metadata = extract_metadata(parsed, chapters, title_guess, lang_hint)
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
    except Exception as e:  # pragma: no cover - defensive
        return {
            "extraction": dict(_EMPTY_EXTRACTION),
            "status": {
                "ok": False,
                "error": f"{type(e).__name__}: {e}"[:500],
                "truncated": False,
                "fallback": False,
                "n_blocks": 0,
                "n_tables": 0,
                "n_images": 0,
            },
        }


def _text_fallback(text: str, lang_hint: str | None) -> dict:
    """Null-html row with crawl text: pass the text through (one
    paragraph per non-empty line, whitespace-normalized) — no DOM
    pipeline ran, so no tables/images/metadata beyond the lang hint."""
    lines = [_norm_ws(l) for l in text.split("\n")]
    lines = [l for l in lines if l]
    meta = dict(_EMPTY_EXTRACTION["metadata"])
    meta["lang"] = lang_hint or None
    return {
        "extraction": {
            "extracted_text": "\n".join(lines),
            "chapters": [
                {"header": None,
                 "paragraphs": [{"sentences": [l]} for l in lines]}
            ] if lines else [],
            "tables": [],
            "images": [],
            "metadata": meta,
        },
        "status": {
            "ok": True,
            "error": None,
            "truncated": False,
            "fallback": True,
            "n_blocks": len(lines),
            "n_tables": 0,
            "n_images": 0,
        },
    }
