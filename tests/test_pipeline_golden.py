"""Golden-fixture gate: extraction output byte-identical to pinned JSON.

Mirror of the reference's exact-sentence assertion
(/root/reference/app/tests/test_text_api.py:36-53) — the per-row
invariant from BASELINE.json: byte-identical extracted text per url.
"""

import glob
import json
import os

import pytest

from document_extraction_service_spark import fixtures as fx
from document_extraction_service_spark.extract.pipeline import extract_document

GOLDEN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden")
GOLDENS = sorted(glob.glob(os.path.join(GOLDEN_DIR, "page_*.json")))


def _load(path):
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def test_goldens_exist():
    assert len(GOLDENS) >= 45


@pytest.mark.parametrize("path", GOLDENS, ids=[os.path.basename(p) for p in GOLDENS])
def test_golden(path):
    g = _load(path)
    row = fx.gen_page(g["i"])
    assert row["url"] == g["url"]
    res = extract_document(row["html"], row["url"], row["lang"])
    # the byte-identical invariant, checked on encoded bytes
    got = res["extraction"]["extracted_text"].encode("utf-8")
    want = g["extraction"]["extracted_text"].encode("utf-8")
    assert got == want, f"extracted_text drift for {g['url']}"
    # remaining fields as parsed-JSON equality (FIXTURES.md §3)
    assert json.loads(json.dumps(res, ensure_ascii=False)) == {
        "extraction": g["extraction"],
        "status": g["status"],
    }


def test_corpus_digest():
    """The whole-corpus pin: every extract_document result over the
    first 2,000 pages of three seeds (all 7 families), hashed, equals
    the digest scripts/make_goldens.py recorded."""
    from scripts.make_goldens import corpus_digest

    pinned = _load(os.path.join(GOLDEN_DIR, "corpus_invariants.json"))["extract_digest"]
    assert len(pinned["sha256"]) == 3
    for seed, want in sorted(pinned["sha256"].items()):
        assert corpus_digest(int(seed), pinned["pages"]) == want, f"seed {seed}"
