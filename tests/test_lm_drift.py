"""Semantic + plan-shape tests for text_lm_score (fixed-point bigram
LM likelihood, the trained-LM CCNet-perplexity analog) and
corpus_drift (batch-vs-corpus token distribution monitor).
Value-vs-DuckDB equality is covered by test_operators_oracle.py's
parametrized sweep; these pin the SEMANTIC contracts and the
scale-critical plan shapes."""

import pandas as pd

import __spark_entry__ as entry
from document_extraction_service_spark.operators.textstats import (
    DRIFT_BATCH_MOD,
    LM_SCALE,
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


# --- text_lm_score ----------------------------------------------------------


def test_lm_score_orders_natural_above_garbled(spark, tmp_path):
    """Docs made of the corpus' dominant bigrams must score strictly
    above a doc of hapax bigrams (every bigram out-of-model or
    count-1): the perplexity-filter ordering."""
    common = ["the cat sat on the mat and the cat sat"] * 8
    garbled = " ".join(f"zq{i}x" for i in range(10))
    sf = _mk_docs(spark, tmp_path, common + [garbled])
    rows = {
        r["doc_id"]: r
        for r in entry.queries()["text_lm_score"](spark, sf).collect()
    }
    nat = rows[0]["lm_score"]
    garb = rows[len(common)]["lm_score"]
    assert nat > garb
    assert rows[0]["n_inlm"] == rows[0]["n_bigrams"]


def test_lm_score_exact_fixed_point_value(spark, tmp_path):
    """Hand-checked arithmetic: corpus 'a b a b' x2 + 'a c'.  Bigram
    counts: 'a b'=4, 'b a'=2, 'a c'=1; prefix a·=5 (kept, =
    LM_MIN_PREFIX), b·=2 (PRUNED).  p(b|a) = 4/5 -> 800000,
    p(c|a) = 1/5 -> 200000, 'b a' out-of-model -> 0.
    Doc 'a b a b': (800000+0+800000) div 3 = 533333."""
    sf = _mk_docs(spark, tmp_path, ["a b a b", "a b a b", "a c"])
    rows = {
        r["doc_id"]: r
        for r in entry.queries()["text_lm_score"](spark, sf).collect()
    }
    assert rows[0]["n_bigrams"] == 3
    assert rows[0]["n_inlm"] == 2
    assert rows[0]["lm_score"] == 533333
    assert rows[2]["lm_score"] == 200000


def test_lm_model_join_is_broadcast(spark, plan_text):
    """The <=LM_TOP-row bigram model must broadcast into the scoring
    join — a sort-merge join there would shuffle every bigram
    occurrence of the corpus (the 10^12-row side)."""
    plan = plan_text(entry.queries()["text_lm_score"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# --- corpus_drift -----------------------------------------------------------


def test_drift_detects_distribution_flip(spark, tmp_path):
    """Batch all-'zzz', corpus all-'aaa': both tokens drift at full
    scale and tvd = LM_SCALE (total distribution replacement)."""
    texts = ["zzz" if i % DRIFT_BATCH_MOD == 0 else "aaa" for i in range(40)]
    sf = _mk_docs(spark, tmp_path, texts)
    rows = {
        r["tok"]: r for r in entry.queries()["corpus_drift"](spark, sf).collect()
    }
    assert set(rows) == {"aaa", "zzz"}
    assert rows["zzz"]["p_batch"] == LM_SCALE and rows["zzz"]["p_corpus"] == 0
    assert rows["aaa"]["p_batch"] == 0 and rows["aaa"]["p_corpus"] == LM_SCALE
    assert rows["zzz"]["tvd"] == LM_SCALE


def test_drift_near_zero_for_identical_distributions(spark, tmp_path):
    """Same text on both sides -> every token's drift is bounded by
    fixed-point floor error and tvd is ~0 (< one part in 1e3)."""
    texts = ["alpha beta gamma delta" for _ in range(40)]
    sf = _mk_docs(spark, tmp_path, texts)
    rows = entry.queries()["corpus_drift"](spark, sf).collect()
    assert rows
    assert all(r["tvd"] < LM_SCALE // 1000 for r in rows)


def test_drift_plan_single_scan_no_smj(spark, plan_text):
    """One conditional-sum agg covers both sides and the checkpointed
    count table feeds all four consumers: the corpus parquet is
    scanned at most once in the final plan and nothing sort-merge
    joins (totals and tvd broadcast back)."""
    df = entry.queries()["corpus_drift"](spark, SF_DIR)
    plan = plan_text(df)
    assert "SortMergeJoin" not in plan
    assert plan.count("Scan parquet") <= 1


# --- web_blocklist_filter ---------------------------------------------------


def test_blocklist_suffix_exact_and_subdomain_semantics(spark):
    """The three rule directions on the synthetic host space:
    - 'example0.com' blocks every subdomain under it (suffix rule):
      doc 21 -> m.site1.example0.com;
    - 'site1.example1.com' blocks the exact host: doc 1;
    - 'm.site2.example2.com' blocks ONLY that subdomain: doc 282 (m.)
      is blocked but doc 142 (the parent site2.example2.com) is NOT."""
    rows = {
        r["doc_id"]: r
        for r in entry.queries()["web_blocklist_filter"](
            spark, SF_DIR
        ).collect()
    }
    assert rows[21]["host"] == "m.site1.example0.com"
    assert rows[21]["blocked"] and rows[21]["matched_rule"] == "example0.com"
    assert rows[1]["host"] == "site1.example1.com"
    assert rows[1]["blocked"] and rows[1]["matched_rule"] == "site1.example1.com"
    assert rows[282]["host"] == "m.site2.example2.com"
    assert rows[282]["blocked"]
    assert rows[142]["host"] == "site2.example2.com"
    assert not rows[142]["blocked"] and rows[142]["matched_rule"] is None


def test_blocklist_plan_broadcasts_rules(spark, plan_text):
    """The rule table must broadcast — the per-doc candidate-key
    stream (the 10^12-row side) never shuffles for the match."""
    plan = plan_text(entry.queries()["web_blocklist_filter"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# --- curate_dsir ------------------------------------------------------------


def test_dsir_matches_pure_python_replay(spark, tmp_path):
    """Independent replica of the whole weight pipeline (hashlib.md5
    buckets, integer floor division) on crafted docs — every doc's
    score must match exactly, and a doc matching the target text must
    outscore a disjoint one."""
    import hashlib

    from document_extraction_service_spark.operators.curation import (
        DSIR_BUCKETS,
        DSIR_MOD,
        DSIR_SCALE,
    )

    texts = {
        0: "x y x y x y",        # target sample (0 % 17 == 0)
        1: "x y x y x y",        # raw doc identical to target text
        2: "p q r s t u",        # raw doc disjoint from target
        3: "x y p q",            # mixed
    }
    sf = _mk_docs(spark, tmp_path, [texts[i] for i in sorted(texts)])

    def grams(t):
        w = t.split(" ")
        if len(w) < 2:
            return [t]
        return [f"{a} {b}" for a, b in zip(w, w[1:])]

    def bkt(g):
        return (
            int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % DSIR_BUCKETS
        )

    occ = {d: [bkt(g) for g in grams(t)] for d, t in texts.items()}
    cr: dict[int, int] = {}
    ct: dict[int, int] = {}
    for d, bs in occ.items():
        for b in bs:
            cr[b] = cr.get(b, 0) + 1
            if d % DSIR_MOD == 0:
                ct[b] = ct.get(b, 0) + 1
    R = sum(cr.values())
    T = sum(ct.values())
    w = {
        b: (DSIR_SCALE * ct.get(b, 0) * R) // max(T * cr[b], 1) for b in cr
    }
    want = {
        d: (len(bs), sum(w[b] for b in bs) // len(bs))
        for d, bs in occ.items()
    }
    got = {
        r["doc_id"]: (r["n_grams"], r["dsir_score"])
        for r in entry.queries()["curate_dsir"](spark, sf).collect()
    }
    assert got == want
    assert got[1][1] > got[2][1]  # target-like beats disjoint
    assert got[1][1] > got[3][1] > got[2][1]  # mixed in between


def test_dsir_weight_join_is_broadcast(spark, plan_text):
    """The <=8192-row weight table must broadcast into the scoring
    join; the bucketed occurrence stream never shuffles for it."""
    plan = plan_text(entry.queries()["curate_dsir"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# --- text_ppl_buckets -------------------------------------------------------


def test_ppl_buckets_band_ordering_and_balance(spark):
    """Every head doc must score >= every middle doc, middle >= tail
    (band edges are bin-granular, so equality can only occur INSIDE a
    shared bin — which the bin-to-band map makes impossible across
    bands), and each band holds roughly a third of the corpus (exact
    thirds up to bin granularity)."""
    rows = entry.queries()["text_ppl_buckets"](spark, SF_DIR).collect()
    n = len(rows)
    assert n > 0
    by_band = {}
    for r in rows:
        by_band.setdefault(r["band"], []).append(r)
    assert set(by_band) == {"head", "middle", "tail"}
    assert min(r["lm_score"] for r in by_band["head"]) >= max(
        r["lm_score"] for r in by_band["middle"]
    )
    assert min(r["lm_score"] for r in by_band["middle"]) >= max(
        r["lm_score"] for r in by_band["tail"]
    )
    # bin-granular thirds: each band within [n/3 - max_bin, n/3 + max_bin]
    max_bin = max(
        len([r for r in rows if r["bin"] == b]) for b in {r["bin"] for r in rows}
    )
    for band, members in by_band.items():
        assert abs(len(members) - n / 3) <= max_bin, (band, len(members))


def test_ppl_buckets_no_document_level_window(spark, plan_text):
    """The scale contract: banding must come from the bounded bin
    table broadcast back onto docs — no document-level global sort or
    rank (a WindowExec over the doc stream would be the give-away)."""
    df = entry.queries()["text_ppl_buckets"](spark, SF_DIR)
    plan = plan_text(df)
    assert "BroadcastHashJoin" in plan
    # the only Sort allowed over the full doc relation is none at all:
    # document rows reach the final join via hash partitioning only
    assert "rangepartitioning" not in plan.lower()
