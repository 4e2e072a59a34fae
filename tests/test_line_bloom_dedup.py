"""Semantic + plan-shape tests for dedup_lines (CCNet-style cross-doc
segment dedup) and dedup_bloom (relational Bloom-filter membership
pre-filter).  Value-vs-DuckDB equality for both is covered by
test_operators_oracle.py's parametrized sweep; these pin the SEMANTIC
contracts and the scale-critical plan shapes."""

import pandas as pd

import __spark_entry__ as entry
from document_extraction_service_spark.operators.dedup import (
    INCR_NEW_MOD,
    LINE_CHUNK_WORDS,
)

SF_DIR = "/root/testdata/sf0.001"


def _mk_docs(spark, tmp_path, texts):
    docs = pd.DataFrame(
        {
            "doc_id": list(range(len(texts))),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    sf = str(tmp_path / "sf")
    spark.createDataFrame(docs).write.parquet(f"{sf}/documents.parquet")
    return sf


# --- dedup_lines ------------------------------------------------------------


def test_lines_drops_shared_boilerplate_keeps_rest(spark, tmp_path):
    """A 10-word chunk recurring in >= LINE_DUP_DOCS docs is dropped
    from each; the unique remainder survives in order.  A short doc
    (single whole-text chunk) that nobody shares stays untouched."""
    boiler = " ".join(f"b{i}" for i in range(LINE_CHUNK_WORDS))
    uniq = [
        " ".join(f"u{d}w{i}" for i in range(LINE_CHUNK_WORDS))
        for d in range(3)
    ]
    texts = [f"{boiler} {uniq[d]}" for d in range(3)]
    texts.append(" ".join(f"solo{i}" for i in range(7)))
    sf = _mk_docs(spark, tmp_path, texts)
    rows = {
        r["doc_id"]: r
        for r in entry.queries()["dedup_lines"](spark, sf).collect()
    }
    for d in range(3):
        assert rows[d]["n_chunks"] == 2
        assert rows[d]["n_dropped"] == 1
        assert rows[d]["clean_text"] == uniq[d]
    assert rows[3]["n_chunks"] == 1
    assert rows[3]["n_dropped"] == 0
    assert rows[3]["clean_text"] == texts[3]


def test_lines_clean_doc_reassembles_byte_identically(spark, tmp_path):
    """Chunks partition the word sequence exactly: a 25-word doc
    (10/10/5 ragged tail) with nothing dropped rebuilds to the
    original bytes."""
    texts = [" ".join(f"d{d}w{i}" for i in range(25)) for d in range(2)]
    sf = _mk_docs(spark, tmp_path, texts)
    rows = {
        r["doc_id"]: r
        for r in entry.queries()["dedup_lines"](spark, sf).collect()
    }
    for d in range(2):
        assert rows[d]["n_chunks"] == 3
        assert rows[d]["n_dropped"] == 0
        assert rows[d]["clean_text"] == texts[d]


def test_lines_dup_fp_probe_is_broadcast_anti_join(spark, plan_text):
    """The DUPLICATED-fp table (bounded by the corpus' boilerplate
    mass) must broadcast into a left-anti probe — the full chunk
    occurrence stream is the 10^12-row side and must not shuffle for
    the membership test.  (The doc_id rebuild join may sort-merge:
    doc_id is the job's own shard key.)"""
    plan = plan_text(entry.queries()["dedup_lines"](spark, SF_DIR))
    anti_lines = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert anti_lines and all("Broadcast" in ln for ln in anti_lines)


# --- dedup_bloom ------------------------------------------------------------


def test_bloom_has_no_false_negatives(spark, tmp_path):
    """The Bloom contract: every exact duplicate must probe positive.
    Crafted batch where doc 0 and 10 duplicate existing docs (incl. a
    case-and-whitespace variant of the canonical form) and doc 20 is
    novel."""
    assert INCR_NEW_MOD == 10
    texts = [f"existing document number {i} with some words" for i in range(30)]
    texts[0] = texts[1]                   # batch doc 0 dupes existing 1
    texts[10] = "  " + texts[11].upper()  # canonical-form dupe of 11
    texts[20] = "completely novel text never seen before"
    sf = _mk_docs(spark, tmp_path, texts)
    rows = {
        r["doc_id"]: r
        for r in entry.queries()["dedup_bloom"](spark, sf).collect()
    }
    assert set(rows) == {0, 10, 20}
    for d in (0, 10):
        assert rows[d]["actually_dup"]
        assert rows[d]["maybe_dup"], "Bloom false negative"
    assert not rows[20]["actually_dup"]


def test_bloom_fp_rate_is_small_at_sf(spark):
    """On the real corpus the filter must do its job: no false
    negatives, and false positives bounded (k=4, m=2^20 bits vs ~450
    keys -> expected FP rate ~0; allow a loose 10% of the batch)."""
    rows = entry.queries()["dedup_bloom"](spark, SF_DIR).collect()
    assert rows
    fps = 0
    for r in rows:
        if r["actually_dup"]:
            assert r["maybe_dup"], "Bloom false negative"
        elif r["maybe_dup"]:
            fps += 1
    assert fps <= max(1, len(rows) // 10)


def test_bloom_bitmap_join_is_broadcast(spark, plan_text):
    """Both the (word, mask) bitmap table and the seen-fp verify side
    must broadcast — the probe stream never shuffles."""
    plan = plan_text(entry.queries()["dedup_bloom"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lines_shuffled_fallback_identical_output(spark, tmp_path, plan_text):
    """The r7 broadcast guard (VERDICT r6 #1): above
    INCR_BROADCAST_MAX_ROWS the duplicated-fp probe degrades to a
    shuffled left-anti join.  Both paths must produce identical rows,
    and the fallback plan must carry NO broadcast on the anti join."""
    from document_extraction_service_spark.operators.dedup import line_dedup

    boiler = " ".join(f"b{i}" for i in range(LINE_CHUNK_WORDS))
    uniq = [
        " ".join(f"u{d}w{i}" for i in range(LINE_CHUNK_WORDS))
        for d in range(4)
    ]
    texts = [f"{boiler} {uniq[d]}" for d in range(4)]
    sf = _mk_docs(spark, tmp_path, texts)
    d = spark.read.parquet(f"{sf}/documents.parquet")

    bcast = line_dedup(d, broadcast_dups=True)
    shuf = line_dedup(d, broadcast_dups=False)
    key = lambda rows: sorted(tuple(r) for r in rows)  # noqa: E731
    assert key(bcast.collect()) == key(shuf.collect())

    # broadcast_dups=False must carry NO broadcast HINT — with
    # auto-broadcast disabled (emulating a table whose size estimate
    # exceeds the threshold, the crawl-scale case) the anti join must
    # plan as a shuffle join; a residual F.broadcast hint would force
    # a broadcast regardless of the threshold.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        anti = [
            ln
            for ln in plan_text(line_dedup(d, broadcast_dups=False)).splitlines()
            if "LeftAnti" in ln
        ]
        assert anti and all("Broadcast" not in ln for ln in anti)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
