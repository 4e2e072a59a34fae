"""Regenerate golden extraction fixtures (tests/golden/*.json).

Run only when extraction *semantics* intentionally change; the diff is
the review surface.  Pinned ids: first N of each family (FIXTURES.md
§3 — "fixed ids per family").
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from document_extraction_service_spark import fixtures as fx
from document_extraction_service_spark.extract.pipeline import extract_document

GOLDEN_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "golden")
PER_FAMILY = {"article": 10, "boilerplate": 8, "tabular": 8, "figure": 8,
              "metadata": 8, "edge": 8, "adversarial": 10}
SCAN_LIMIT = 3000
# whole-corpus pin: sha256 of every extract_document result over the
# first CORPUS_PAGES pages of each seed (all 7 families appear in each)
CORPUS_SEEDS = (7, 42, 1234)
CORPUS_PAGES = 2000


def pinned_ids() -> list[int]:
    want = dict(PER_FAMILY)
    ids = []
    for i in range(SCAN_LIMIT):
        fam = fx.family_of(i)
        if want.get(fam, 0) > 0:
            want[fam] -= 1
            ids.append(i)
        if not any(want.values()):
            break
    return ids


def main() -> None:
    os.makedirs(GOLDEN_DIR, exist_ok=True)
    # only delete files THIS script owns (page goldens; it rewrites
    # corpus_invariants.json itself) — sketch_invariants.json belongs to
    # scripts/replay_sketches.py and must survive a golden regen
    for old in os.listdir(GOLDEN_DIR):
        if old.startswith("page_") and old.endswith(".json"):
            os.unlink(os.path.join(GOLDEN_DIR, old))
    for i in pinned_ids():
        row = fx.gen_page(i)
        res = extract_document(row["html"], row["url"], row["lang"])
        doc = {"i": i, "url": row["url"], **res}
        path = os.path.join(GOLDEN_DIR, f"page_{i:06d}.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump(doc, f, ensure_ascii=False, indent=1, sort_keys=True)
    print(f"wrote {len(pinned_ids())} goldens to {GOLDEN_DIR}")
    write_corpus_invariants()


def corpus_digest(seed: int, n: int = CORPUS_PAGES) -> str:
    """sha256 over the extract_document results of pages 0..n-1 of
    `seed`, each as sorted-key JSON plus a newline."""
    h = hashlib.sha256()
    for i in range(n):
        row = fx.gen_page(i, seed)
        res = extract_document(row["html"], row["url"], row["lang"], row["text"])
        h.update(json.dumps(res, ensure_ascii=False, sort_keys=True).encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def write_corpus_invariants(n: int = 500) -> None:
    """Pin per-family corpus invariants (the extract_corpus oracle):
    pure-Python replay of the same extract_document the Spark UDF runs,
    over the same pure-(seed,i) corpus — so the pinned VALUES are an
    engine-independent expectation, not a copy of Spark output.  Also
    pins the whole-corpus digests (corpus_digest per CORPUS_SEEDS)."""
    agg: dict[str, dict] = {}
    for i in range(n):
        row = fx.gen_page(i)
        fam = fx.family_of(i)
        res = extract_document(row["html"], row["url"], row["lang"], row["text"])
        a = agg.setdefault(fam, dict(family=fam, n_docs=0, n_ok=0,
                                     n_tables=0, n_images=0, sum_text_len=0))
        a["n_docs"] += 1
        a["n_ok"] += int(res["status"]["ok"])
        a["n_tables"] += res["status"]["n_tables"]
        a["n_images"] += res["status"]["n_images"]
        a["sum_text_len"] += len(res["extraction"]["extracted_text"])
    rows = [agg[k] for k in sorted(agg)]
    for seed in CORPUS_SEEDS:
        fams = {fx.family_of(i, seed) for i in range(CORPUS_PAGES)}
        if fams != set(fx.FAMILIES):
            raise SystemExit(f"seed {seed}: only families {sorted(fams)}")
    digests = {
        "pages": CORPUS_PAGES,
        "sha256": {str(seed): corpus_digest(seed) for seed in CORPUS_SEEDS},
    }
    path = os.path.join(GOLDEN_DIR, "corpus_invariants.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump({"families": rows, "extract_digest": digests}, f,
                  indent=1, sort_keys=True)
    print(f"wrote corpus invariants ({len(rows)} families, "
          f"{len(CORPUS_SEEDS)} corpus digests) to {path}")


if __name__ == "__main__":
    main()
