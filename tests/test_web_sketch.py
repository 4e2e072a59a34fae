"""Semantic + plan-shape tests for the sketch/scheduling web operators
(value-vs-DuckDB equality is covered by test_operators_oracle.py's
parametrized sweep; these pin accuracy contracts and scale shapes)."""

import pytest

import __spark_entry__ as entry
from document_extraction_service_spark.operators.weburl import (
    HLL_M,
    _HLL_LC,
)

SF_DIR = "/root/testdata/sf0.001"


# --- web_distinct_hll -------------------------------------------------------


@pytest.fixture(scope="module")
def hll_rows(spark):
    return entry.queries()["web_distinct_hll"](spark, SF_DIR).collect()


def test_hll_tracks_exact_distinct(hll_rows):
    """The sketch must track the exact count within HLL tolerance —
    in the linear-counting regime (small n vs m=64 registers) the
    estimate is near-exact; allow the standard ~1.04/sqrt(m) band
    with slack for small-n discreteness."""
    assert len(hll_rows) > 0
    for r in hll_rows:
        assert r["n_urls"] > 0
        err = abs(r["hll_est"] - r["n_urls"]) / r["n_urls"]
        assert err <= 0.40, (r["host"], r["hll_est"], r["n_urls"])


def test_hll_linear_counting_region(hll_rows):
    """With empty registers and a small raw estimate, the estimator
    must take the linear-counting branch — the embedded integer table
    m*ln(m/V) (identical literals in both engines)."""
    for r in hll_rows:
        if r["reg_zeros"] > 0 and r["hll_raw"] < 5 * HLL_M // 2:
            assert r["hll_est"] == _HLL_LC[r["reg_zeros"]]


def test_hll_register_agg_has_partial_combine(spark, plan_text):
    """The (host, reg) register agg must partial-aggregate map-side —
    the whole point of the sketch is that at most m rows per host
    cross the shuffle, not one row per url."""
    df = entry.queries()["web_distinct_hll"](spark, SF_DIR)
    plan = plan_text(df)
    assert "partial_max" in plan or "partial_" in plan.lower()


# --- web_recrawl_schedule ---------------------------------------------------


@pytest.fixture(scope="module")
def recrawl_rows(spark):
    return entry.queries()["web_recrawl_schedule"](spark, SF_DIR).collect()


def test_recrawl_tier_thresholds(recrawl_rows):
    from document_extraction_service_spark.operators.weburl import (
        RECRAWL_TIERS,
    )

    assert len(recrawl_rows) > 0
    intervals = {name: us for name, _, us in RECRAWL_TIERS}
    for r in recrawl_rows:
        expected = next(
            name for name, lo, _ in RECRAWL_TIERS
            if r["change_rate_ppm"] >= lo
        )
        assert r["tier"] == expected
        assert r["next_due_us"] == r["last_fetch_us"] + intervals[r["tier"]]
        assert 0 <= r["n_changes"] <= r["n_fetches"]


def test_recrawl_single_combine_agg(spark, plan_text):
    """The fetch log must collapse in ONE map-side-combinable agg —
    no second shuffle, no window over the event stream."""
    df = entry.queries()["web_recrawl_schedule"](spark, SF_DIR)
    plan = plan_text(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "WindowExec" not in plan


# --- web_crawl_depth --------------------------------------------------------


def test_crawl_depth_is_min_hop_distance(spark):
    """Replay the BFS in pure Python over the same deterministic graph
    and require exact hop distances (seeds at 0, unreachable absent)."""
    import duckdb

    from document_extraction_service_spark.operators.weburl import (
        CRAWL_SEEDS,
    )

    rows = {r["host"]: r["depth"]
            for r in entry.queries()["web_crawl_depth"](spark, SF_DIR).collect()}
    edges = duckdb.sql(
        "SELECT DISTINCT CAST(doc_id % 20 AS BIGINT), "
        "CAST((doc_id % 20 + 1 + doc_id % 7) % 20 AS BIGINT) "
        f"FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    adj = {}
    for s, t in edges:
        adj.setdefault(s, set()).add(t)
    dist = {s: 0 for s in CRAWL_SEEDS}
    frontier = set(CRAWL_SEEDS)
    depth = 0
    while frontier:
        depth += 1
        frontier = {
            t for s in frontier for t in adj.get(s, ())
        } - dist.keys()
        for t in frontier:
            dist[t] = depth
    assert rows == dist


def test_crawl_depth_frontier_layer_shape(spark, plan_text):
    """Plan contract for ONE BFS layer (the returned DF is a
    checkpointed scan, so assert on the layer construction itself):
    the frontier joins the edge list and the settled set is touched
    only by an anti-join — no full-graph relaxation join."""
    from pyspark.sql import functions as F

    from document_extraction_service_spark.operators.weburl import (
        _host_edges,
    )

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    edges = _host_edges(d).select("src", "dst").distinct()
    seeds = edges.select(F.col("src").alias("host")).distinct().limit(2)
    layer = (
        seeds.join(edges, seeds.host == edges.src)
        .select(F.col("dst").alias("host"))
        .distinct()
        .join(seeds, "host", "left_anti")
    )
    plan = plan_text(layer)
    assert "LeftAnti" in plan
