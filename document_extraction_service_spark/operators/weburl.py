"""URL canonicalization + host rollup — web-pipeline table stakes.

A crawl pipeline dedups and shards by CANONICAL url: scheme/host case,
default ports, fragments and tracking params all create spurious
distinct keys (the same page under 8 byte-distinct urls).  No reference
analog (the service takes opaque PDF uploads); this is the url-side
twin of the engine's url-hash bucketing (job.py).

The demo query synthesizes messy urls from the documents table with
pure JVM column expressions — the same construction is expressed in the
DuckDB oracle, so canonicalization is value-provable in SQL (the
extract_documents pattern).  All transforms are built-in string
functions (regexp_replace/lower/split) — zero Python on the hot path,
so at 10^12 rows this is a pure map stage inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .tables import read_table

# tracking params dropped during canonicalization (order-preserving
# keep-list semantics for everything else)
TRACKING_PREFIXES = ("utm_", "fbclid", "gclid", "ref")


def _messy_urls(spark, sf_dir):
    """Deterministic messy-url table from documents (JVM-side only):
    mixed-case scheme+host, default port, tracking + real params, and a
    fragment — every class of non-canonical noise."""
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://WWW.Site"), (F.col("doc_id") % 20).cast("string"),
            F.lit(".Example.COM:443/Articles/item-"), F.col("doc_id").cast("string"),
            F.lit("?utm_source=feed&id="), F.col("doc_id").cast("string"),
            F.lit("&utm_campaign=x&page=2#section-3"),
        ).alias("url"),
    )


def canonicalize(url):
    """Column -> canonical url Column:
    1. drop the #fragment
    2. lowercase scheme://host[:port] (path/query case is significant)
    3. strip default ports (:443 https, :80 http)
    4. drop tracking query params (TRACKING_PREFIXES), keep the rest in
       original order; drop a then-empty '?'
    """
    no_frag = F.regexp_replace(url, r"#.*$", "")
    # lowercase scheme+authority only: capture up to the first '/' after '//'
    lowered = F.concat(
        F.lower(F.regexp_extract(no_frag, r"^([^/]*//[^/]*)", 1)),
        F.regexp_replace(no_frag, r"^[^/]*//[^/]*", ""),
    )
    no_port = F.regexp_replace(
        F.regexp_replace(lowered, r"^(https://[^/:]*):443(/|$)", r"$1$2"),
        r"^(http://[^/:]*):80(/|$)", r"$1$2",
    )
    base = F.regexp_extract(no_port, r"^([^?]*)", 1)
    query = F.regexp_extract(no_port, r"\?(.*)$", 1)
    kept = F.filter(
        F.split(query, "&"),
        lambda p: ~(
            p.startswith("utm_") | p.startswith("fbclid")
            | p.startswith("gclid") | p.rlike("^ref=")
        ),
    )
    return F.when(
        (query == "") | (F.size(kept) == 0), base
    ).otherwise(F.concat(base, F.lit("?"), F.array_join(kept, "&")))


def host_of(url):
    """Column -> lowercase host, www. stripped, port dropped."""
    h = F.lower(F.regexp_extract(url, r"^[^/]*//([^/:?#]*)", 1))
    return F.regexp_replace(h, r"^www\.", "")


def web_url_canonicalize(spark, sf_dir):
    """queries() entry: canonical url + host per doc — map-only."""
    u = _messy_urls(spark, sf_dir)
    return u.select(
        "doc_id",
        "url",
        canonicalize(F.col("url")).alias("canonical_url"),
        host_of(F.col("url")).alias("host"),
    )


def web_host_rollup(spark, sf_dir):
    """queries() entry: per-host page counts + total doc length — the
    crawl-ops rollup.  host is computed inline from the url expression
    (ONE scan, map + partial agg — a join back to the source table
    would be a pointless self-join; the plan is scan -> project ->
    hash-agg with map-side combine)."""
    d = read_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW.Site"), (F.col("doc_id") % 20).cast("string"),
        F.lit(".Example.COM:443/Articles/item-"), F.col("doc_id").cast("string"),
    )
    return (
        d.select(host_of(url).alias("host"), "n_chars")
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            # decimal route: aggregation order cannot change the value
            F.sum(F.col("n_chars").cast("decimal(18,6)")).cast("double").alias("sum_chars"),
        )
    )


# DuckDB mirrors: same messy-url construction, same transforms.
_MESSY_SQL = """
SELECT doc_id,
       'HTTPS://WWW.Site' || CAST(doc_id % 20 AS VARCHAR) ||
       '.Example.COM:443/Articles/item-' || CAST(doc_id AS VARCHAR) ||
       '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) ||
       '&utm_campaign=x&page=2#section-3' AS url
FROM documents
"""

def _sql_canonical_chain(input_sql: str) -> str:
    """DuckDB CTE chain mirroring canonicalize() over an input query
    producing (doc_id, url); yields (doc_id, url, canonical_url, host)."""
    return f"""
WITH u AS ({input_sql}),
s1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nf FROM u),
s2 AS (SELECT doc_id, url,
              lower(regexp_extract(nf, '^([^/]*//[^/]*)', 1)) ||
              regexp_replace(nf, '^[^/]*//[^/]*', '') AS lo FROM s1),
s3 AS (SELECT doc_id, url,
              regexp_replace(regexp_replace(lo,
                  '^(https://[^/:]*):443(/|$)', '\\1\\2'),
                  '^(http://[^/:]*):80(/|$)', '\\1\\2') AS np FROM s2),
s4 AS (SELECT doc_id, url,
              regexp_extract(np, '^([^?]*)', 1) AS base,
              regexp_extract(np, '\\?(.*)$', 1) AS query FROM s3),
s5 AS (SELECT doc_id, url, base, query,
              list_filter(string_split(query, '&'),
                          p -> NOT (p LIKE 'utm\\_%' ESCAPE '\\'
                                    OR p LIKE 'fbclid%' OR p LIKE 'gclid%'
                                    OR regexp_matches(p, '^ref='))) AS kept
       FROM s4)
SELECT doc_id, url,
       CASE WHEN query = '' OR len(kept) = 0 THEN base
            ELSE base || '?' || array_to_string(kept, '&') END AS canonical_url,
       regexp_replace(lower(regexp_extract(url, '^[^/]*//([^/:?#]*)', 1)),
                      '^www\\.', '') AS host
FROM s5
"""


SQL_URL_CANONICALIZE = _sql_canonical_chain(_MESSY_SQL)

SQL_HOST_ROLLUP = """
WITH h AS (
  SELECT regexp_replace(lower(regexp_extract(
           'HTTPS://WWW.Site' || CAST(doc_id % 20 AS VARCHAR) ||
           '.Example.COM:443/Articles/item-' || CAST(doc_id AS VARCHAR),
           '^[^/]*//([^/:?#]*)', 1)), '^www\\.', '') AS host,
         n_chars
  FROM documents)
SELECT host, COUNT(*) AS n_docs,
       CAST(SUM(CAST(n_chars AS DECIMAL(18,6))) AS DOUBLE) AS sum_chars
FROM h
GROUP BY host
"""

# --- URL-level dedup --------------------------------------------------------
# A crawl pipeline's FIRST dedup pass is by canonical url (before any
# content hashing): the same page arrives under byte-distinct urls
# (case, default port, fragment, tracking params).  The variant table
# below synthesizes exactly that — 4 noise classes of the SAME page per
# group of 4 doc_ids — so the collapse is non-trivial and the expected
# group structure is provable in SQL.


def _variant_urls(spark, sf_dir):
    """Deterministic colliding-url table: doc_ids 4k..4k+3 carry four
    differently-noised spellings of page k's url (mixed-case authority
    + default port + fragment / tracking param / both / already-clean)."""
    d = read_table(spark, sf_dir, "documents")
    page = F.floor(F.col("doc_id") / 4).cast("long")
    site = (page % 20).cast("string")
    item = page.cast("string")
    v = F.col("doc_id") % 4
    url = (
        F.when(v == 0, F.concat(
            F.lit("HTTPS://WWW.Site"), site,
            F.lit(".Example.COM:443/p/item-"), item, F.lit("#frag")))
        .when(v == 1, F.concat(
            F.lit("https://www.site"), site,
            F.lit(".example.com/p/item-"), item, F.lit("?utm_source=a")))
        .when(v == 2, F.concat(
            F.lit("https://WWW.site"), site,
            F.lit(".example.com:443/p/item-"), item,
            F.lit("?utm_campaign=b#x")))
        .otherwise(F.concat(
            F.lit("https://www.site"), site,
            F.lit(".example.com/p/item-"), item))
    )
    return d.select("doc_id", url.alias("url"))


def web_url_dedup(spark, sf_dir):
    """queries() entry: collapse byte-distinct url spellings to one
    canonical row — (canonical_url, n_dups, canonical_id=min doc_id).

    Scale shape: canonicalization is a pure map; the collapse is ONE
    hash shuffle keyed by canonical url with map-side combine — the
    same key the job's url-hash bucketing shards by, so at 10^12 rows
    this pass piggybacks on the bucket layout (dedup within a bucket,
    no second global shuffle)."""
    u = _variant_urls(spark, sf_dir)
    return (
        u.select("doc_id", canonicalize(F.col("url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("canonical_id"),
        )
    )


_SQL_VARIANTS = """
SELECT doc_id,
       CASE CAST(doc_id % 4 AS INTEGER)
         WHEN 0 THEN 'HTTPS://WWW.Site' || s || '.Example.COM:443/p/item-'
                     || it || '#frag'
         WHEN 1 THEN 'https://www.site' || s || '.example.com/p/item-'
                     || it || '?utm_source=a'
         WHEN 2 THEN 'https://WWW.site' || s || '.example.com:443/p/item-'
                     || it || '?utm_campaign=b#x'
         ELSE 'https://www.site' || s || '.example.com/p/item-' || it
       END AS url
FROM (SELECT doc_id,
             CAST((doc_id // 4) % 20 AS VARCHAR) AS s,
             CAST(doc_id // 4 AS VARCHAR) AS it
      FROM documents)
"""

SQL_URL_DEDUP = f"""
WITH c AS ({_sql_canonical_chain(_SQL_VARIANTS)})
SELECT canonical_url, COUNT(*) AS n_dups, MIN(doc_id) AS canonical_id
FROM c GROUP BY canonical_url
"""

# hosts whose doc-level quality-gate pass rate falls below this are
# flagged wholesale (domain-level curation: spam farms produce pages
# that individually squeak past doc gates; the host AGGREGATE is the
# stronger signal — the RefinedWeb/C4 domain-filter pattern)
HOST_MIN_PASS = 0.85


def web_host_quality(spark, sf_dir):
    """Host-reputation filtering — the domain-level curation pass:
    aggregate doc-level gate outcomes per host, then flag EVERY doc
    from low-quality hosts.

    Two-phase scale shape: phase 1 is one scan + a tiny per-host agg
    with map-side combine (hosts are bounded by the web itself, ~1e8
    rows at worst — here the 20 synthetic hosts of web_host_rollup);
    phase 2 BROADCASTS the host-score table back onto the docs, so at
    10^12 rows the docs side streams map-only with zero shuffle.  The
    doc-level signal is curation.gate_reason() — one gate definition
    composing across the batch gate, streaming gate, and this rollup.

    Output: (doc_id, host, host_pass_rate, host_flagged)."""
    from .curation import gate_reason

    d = read_table(spark, sf_dir, "documents", wide=True)
    url = F.concat(
        F.lit("HTTPS://WWW.Site"), (F.col("doc_id") % 20).cast("string"),
        F.lit(".Example.COM:443/Articles/item-"), F.col("doc_id").cast("string"),
    )
    scored = d.select(
        "doc_id",
        host_of(url).alias("host"),
        (gate_reason() == "ok").cast("long").alias("ok"),
    )
    rates = scored.groupBy("host").agg(
        # longs/count in double is exact below 2^53 rows per host;
        # floor-1e6 keeps the emitted value engine-stable regardless
        (F.floor(F.sum("ok") / F.count(F.lit(1)) * 1e6) / 1e6)
        .alias("host_pass_rate")
    )
    return (
        scored.select("doc_id", "host")
        .join(F.broadcast(rates), "host")
        .select(
            "doc_id", "host", "host_pass_rate",
            (F.col("host_pass_rate") < HOST_MIN_PASS).alias("host_flagged"),
        )
    )


def _sql_host_quality() -> str:
    """Oracle assembled from the quality-gate oracle (same gate SQL,
    same host construction as SQL_HOST_ROLLUP)."""
    from .curation import SQL_QUALITY_GATE

    return f"""
WITH gate AS ({SQL_QUALITY_GATE}),
h AS (SELECT doc_id, 'site' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS host,
             CASE WHEN keep THEN 1 ELSE 0 END AS ok
      FROM gate),
r AS (SELECT host, FLOOR(SUM(ok) * 1.0 / COUNT(*) * 1000000) / 1000000 AS host_pass_rate
      FROM h GROUP BY host)
SELECT h.doc_id, h.host, r.host_pass_rate,
       r.host_pass_rate < {HOST_MIN_PASS} AS host_flagged
FROM h JOIN r USING (host)
"""


# --- host-graph PageRank (crawl prioritization) -----------------------------
# Crawl pipelines rank hosts by link centrality to order the frontier
# and weight domain trust (Common Crawl publishes host-level ranks for
# exactly this).  Determinism contract: the iteration runs in FIXED-
# POINT integer arithmetic (BIGINT scaled by PR_SCALE, floor division)
# — integer addition is order-independent, so the ranks are
# bit-identical across engines, partitionings, and reruns, which no
# float PageRank can promise (float sums reorder under shuffle).
PR_SCALE = 10**12
PR_ITERS = 8
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping 0.85 as a rational


def _host_edges(d: DataFrame) -> DataFrame:
    """Deterministic host link graph from the documents table: each doc
    on host (doc_id % 20) links to host ((doc_id % 20) + 1 + doc_id % 7)
    % 20 — a skewed, aperiodic graph (same construction in the SQL
    oracle)."""
    src = (F.col("doc_id") % 20).cast("long")
    dst = ((src + 1 + F.col("doc_id") % 7) % 20).cast("long")
    return (
        d.select(src.alias("src"), dst.alias("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )


def web_host_pagerank(spark, sf_dir):
    """Weighted host PageRank, PR_ITERS fixed-point iterations:

        p0(h)  = PR_SCALE div N
        p_i(h) = (15 * p0) div 100
                 + (85 * sum over in-edges of (p(s) div outw(s)) * w) div 100

    (dangling mass is dropped — 'weak' PageRank — mirrored exactly in
    the oracle; flooring p div outw BEFORE the weight multiply keeps
    every intermediate <= p(s), so the arithmetic cannot overflow
    BIGINT at any host count).

    Scale shape: per iteration ONE join of the edge table with the
    rank table on src (both keyed by host — co-partitioned after the
    first shuffle) + one map-side-combined sum on dst; only (host,
    long) pairs ever shuffle, never documents.  The edge aggregation
    upstream is one shuffle of (src, dst) pairs with map-side combine
    — at 10^12 docs the host graph is ~1e8 nodes, the standard
    iterative-PageRank working set.  N and the teleport base stay
    driver-free (a broadcast one-row aggregate, the
    curate_domain_mixture pattern); localCheckpoint per round
    truncates the 8-deep lineage (the connected_components pattern).
    Deterministic: integer ops only."""
    d = read_table(spark, sf_dir, "documents")
    edges = _host_edges(d)
    out = edges.groupBy("src").agg(F.sum("w").alias("outw"))
    # lazy localCheckpoints (r7): nothing here needs a result before
    # the final action, so the eager per-round materialization jobs
    # (1 per iteration + 2 setup) collapse into the one job that runs
    # the query — each checkpoint still truncates lineage when first
    # materialized, so the executed plan depth stays bounded
    ew = edges.join(out, "src").localCheckpoint(eager=False)
    hosts = (
        ew.select(F.col("src").alias("host"))
        .union(ew.select(F.col("dst").alias("host")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    consts = hosts.agg(F.count(F.lit(1)).alias("n")).select(
        F.expr(f"CAST({PR_SCALE} DIV n AS LONG)").alias("p0")
    ).select(
        "p0",
        F.expr(f"CAST(({PR_DAMP_DEN - PR_DAMP_NUM} * p0) DIV {PR_DAMP_DEN}"
               " AS LONG)").alias("base"),
    )
    ranks = hosts.crossJoin(F.broadcast(consts)).select(
        "host", F.col("p0").alias("p")
    )
    for _ in range(PR_ITERS):
        contrib = (
            ew.join(ranks.select(F.col("host").alias("src"), "p"), "src")
            .select(
                F.col("dst").alias("host"),
                F.expr("(p DIV outw) * w").alias("c"),
            )
        )
        inflow = contrib.groupBy("host").agg(F.sum("c").alias("inflow"))
        ranks = (
            hosts.join(inflow, "host", "left")
            .crossJoin(F.broadcast(consts))
            .select(
                "host",
                F.expr(f"CAST(base + ({PR_DAMP_NUM} * COALESCE(inflow, 0))"
                       f" DIV {PR_DAMP_DEN} AS LONG)").alias("p"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select("host", F.col("p").alias("rank_fp"))


def _sql_pagerank() -> str:
    """Oracle: the same fixed-point iteration unrolled as PR_ITERS CTE
    stages (DuckDB disallows aggregates in a recursive term; a fixed
    iteration count unrolls exactly).  `//` is DuckDB integer floor
    division = Spark's DIV on the same non-negative BIGINTs."""
    base_expr = (f"({PR_DAMP_DEN - PR_DAMP_NUM} * ({PR_SCALE} // c.n))"
                 f" // {PR_DAMP_DEN}")
    parts = [f"""
WITH e AS (SELECT src, dst, COUNT(*) AS w FROM (
             SELECT CAST(doc_id % 20 AS BIGINT) AS src,
                    CAST((doc_id % 20 + 1 + doc_id % 7) % 20 AS BIGINT) AS dst
             FROM documents)
           GROUP BY src, dst),
o AS (SELECT src, SUM(w) AS outw FROM e GROUP BY src),
ew AS (SELECT e.src, e.dst, e.w, o.outw FROM e JOIN o USING (src)),
h AS (SELECT DISTINCT host FROM
        (SELECT src AS host FROM e UNION ALL SELECT dst FROM e)),
c AS (SELECT COUNT(*) AS n FROM h),
p0 AS (SELECT h.host, {PR_SCALE} // c.n AS p FROM h, c)"""]
    prev = "p0"
    for i in range(1, PR_ITERS + 1):
        parts.append(f"""
f{i} AS (SELECT ew.dst AS host, SUM((p.p // ew.outw) * ew.w) AS inflow
        FROM ew JOIN {prev} p ON p.host = ew.src GROUP BY ew.dst),
p{i} AS (SELECT h.host,
               {base_expr} + ({PR_DAMP_NUM} * COALESCE(f{i}.inflow, 0))
                 // {PR_DAMP_DEN} AS p
        FROM h LEFT JOIN f{i} USING (host), c)""")
        prev = f"p{i}"
    return (
        ",".join(parts)
        + f"\nSELECT host, CAST(p AS BIGINT) AS rank_fp FROM {prev}"
    )


# --- domain blocklist filter (UT1/C4-style) ---------------------------------
# C4/RefinedWeb drop whole domains against curated blocklists (UT1
# adult/malware lists, internal spam lists).  The semantics that
# matter: an entry blocks the EXACT host and every SUBDOMAIN of it
# ("example0.com" blocks "m.site3.example0.com"), while a
# subdomain-only entry must NOT block its parent.  Deterministic
# in-repo rule list (no external data); hosts synthesized from doc_id
# with a subdomain tier so both directions are exercised.
BLOCKLIST_RULES = (
    "example0.com",          # registered-domain block (suffix semantics)
    "site1.example1.com",    # exact-host block (+ its subdomains)
    "m.site2.example2.com",  # subdomain-only block (parent stays clean)
)


def _bl_host():
    """Column: synthetic host with a subdomain tier — site{%20} x
    example{%7} (moduli coprime so domains don't correlate, CLAUDE.md
    #23) with an 'm.' mobile subdomain on every third doc."""
    return F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.lit("m.")).otherwise(F.lit("")),
        F.lit("site"), (F.col("doc_id") % 20).cast("string"),
        F.lit(".example"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".com"),
    )


def web_blocklist_filter(spark, sf_dir):
    """(doc_id, host, blocked, matched_rule): host blocked iff it or
    any of its domain suffixes is a blocklist entry.

    Scale shape: each host emits <= 3 fixed-width candidate keys (the
    host + its last-3 and last-2 label suffixes via substring_index —
    NO per-label explode, no HOF over a derived array), the blocklist
    BROADCASTS (UT1-scale lists are a few MB; a truly giant list
    would drop the hint and shuffle-join on key with identical
    semantics), and the verdict agg groups on doc_id, the job's own
    shard key.  Pure codegen strings end to end."""
    d = read_table(spark, sf_dir, "documents")
    docs = d.select("doc_id", _bl_host().alias("host"))
    cand = docs.select(
        "doc_id",
        "host",
        F.explode(
            F.array_distinct(
                F.array(
                    F.col("host"),
                    F.substring_index(F.col("host"), ".", -3),
                    F.substring_index(F.col("host"), ".", -2),
                )
            )
        ).alias("key"),
    )
    bl = spark.createDataFrame([(r,) for r in BLOCKLIST_RULES], "rule string")
    j = cand.join(F.broadcast(bl), cand.key == bl.rule, "left")
    return j.groupBy("doc_id", "host").agg(
        (F.count("rule") > 0).alias("blocked"),
        F.min("rule").alias("matched_rule"),
    )


_SQL_BL_VALUES = ", ".join(f"('{r}')" for r in BLOCKLIST_RULES)
SQL_BLOCKLIST = f"""
WITH docs AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 3 = 0 THEN 'm.' ELSE '' END) ||
         'site' || (doc_id % 20) || '.example' || (doc_id % 7) || '.com'
           AS host
  FROM documents),
bl(rule) AS (VALUES {_SQL_BL_VALUES}),
cand AS (
  SELECT doc_id, host, u.key
  FROM (SELECT doc_id, host,
               list_distinct([
                 host,
                 array_to_string(l[greatest(len(l) - 2, 1):], '.'),
                 array_to_string(l[greatest(len(l) - 1, 1):], '.')
               ]) AS ks
        FROM (SELECT doc_id, host, string_split(host, '.') AS l FROM docs)),
       UNNEST(ks) AS u(key)),
j AS (SELECT c.doc_id, c.host, bl.rule
      FROM cand c LEFT JOIN bl ON c.key = bl.rule)
SELECT doc_id, host, COUNT(rule) > 0 AS blocked, MIN(rule) AS matched_rule
FROM j GROUP BY doc_id, host
"""


# --- sketch-based distinct counting (HyperLogLog) ---------------------------
# The crawl-ops question "how many distinct canonical urls per host?"
# is COUNT(DISTINCT ...) — at 10^12 rows an exact distinct shuffles
# every key.  HyperLogLog (Flajolet et al. 2007) answers it with a
# fixed m-register sketch whose per-host state is <= m small ints and
# whose merge is a MAX — i.e. one map-side-combinable aggregation.
#
# Everything is integer fixed-point so the oracle is bit-exact
# (CLAUDE.md gotcha #23): rho uses the trailing-zeros-of-suffix form
# (same geometric distribution as leading zeros) computed with pure
# bit arithmetic — bit_count((rest & -rest) - 1) — and the two float
# constants of the estimator (alpha_m, the linear-counting table
# m*ln(m/V)) are precomputed in PYTHON and embedded as identical
# integer literals in both engines' expressions.
HLL_M = 64            # registers (6 index bits); std error ~ 1.04/sqrt(m)
HLL_RMAX = 32         # rho cap; keeps every 2^(RMAX-rho) term in BIGINT
HLL_ALPHA_SCALE = 100_000

import math as _math  # noqa: E402  (module-local, avoids header churn)

HLL_ALPHA = _math.floor(0.7213 / (1 + 1.079 / HLL_M) * HLL_ALPHA_SCALE)
# numerator alpha_s * m^2 * 2^RMAX = 1.25e18 < 2^63 by construction
_HLL_NUM = HLL_ALPHA * HLL_M * HLL_M * (1 << HLL_RMAX)
_HLL_LC = {v: round(HLL_M * _math.log(HLL_M / v)) for v in range(1, HLL_M + 1)}


def _hll_est_sql(vcol: str, rawcol: str) -> str:
    """Estimator CASE (same text in Spark expr and DuckDB SQL): linear
    counting below the 2.5m small-range threshold when empty registers
    exist, raw HLL otherwise."""
    branches = " ".join(f"WHEN {v} THEN {e}" for v, e in _HLL_LC.items())
    return (
        f"CAST(CASE WHEN {rawcol} < {5 * HLL_M // 2} AND {vcol} > 0 "
        f"THEN (CASE {vcol} {branches} ELSE {rawcol} END) "
        f"ELSE {rawcol} END AS BIGINT)"
    )


def web_distinct_hll(spark, sf_dir):
    """(host, n_urls, reg_zeros, hll_raw, hll_est): HyperLogLog
    distinct-canonical-url count per host over the colliding-url
    table, with the exact COUNT(DISTINCT) alongside so the sketch
    self-evidences its accuracy (the dedup_bloom pattern — production
    drops the exact column; it exists here because the whole point of
    the result is that hll_est tracks n_urls).

    Scale shape: hashing + register derivation is a pure map; the
    sketch is ONE (host, reg) hash agg with map-side combine (<= m
    rows per host ever cross the wire, however many urls the host
    has); the register grid joins off the distinct-host table (m rows
    per host, linear); the estimator is per-host arithmetic.  The
    exact-distinct column is the only part that shuffles url keys —
    drop it and the plan never moves a url after the map stage.
    Deterministic: md5-derived 60-bit hashes, integer-only estimator
    (see module comment)."""
    u = _variant_urls(spark, sf_dir)
    c = u.select(
        host_of(F.col("url")).alias("host"),
        canonicalize(F.col("url")).alias("curl"),
    )
    t = c.select(
        "host",
        F.conv(F.substring(F.md5("curl"), 1, 15), 16, 10)
        .cast("long").alias("h"),
    ).select(
        "host",
        (F.col("h") % HLL_M).alias("reg"),
        F.expr(f"h div {HLL_M}").alias("rest"),
    )
    rho = F.expr(
        f"least(bit_count((rest & -rest) - 1) + 1, {HLL_RMAX})"
    ).alias("rho")
    regs = (
        t.select("host", "reg", rho)
        .groupBy("host", "reg")
        .agg(F.max("rho").alias("mr"))
    )
    grid = (
        c.select("host").distinct()
        .select(
            "host",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.lit(HLL_M - 1).cast("long"))
            ).alias("reg"),
        )
    )
    agg = (
        grid.join(regs, ["host", "reg"], "left")
        .select("host", F.coalesce("mr", F.lit(0)).alias("mr"))
        .groupBy("host")
        .agg(
            F.expr(
                f"sum(shiftleft(cast(1 as bigint), "
                f"cast({HLL_RMAX} - mr as int)))"
            ).alias("zp"),
            F.sum((F.col("mr") == 0).cast("long")).alias("reg_zeros"),
        )
        .withColumn(
            "hll_raw",
            F.expr(f"({_HLL_NUM} div zp) div {HLL_ALPHA_SCALE}"),
        )
        .withColumn("hll_est", F.expr(_hll_est_sql("reg_zeros", "hll_raw")))
    )
    exact = c.groupBy("host").agg(F.countDistinct("curl").alias("n_urls"))
    return exact.join(agg, "host").select(
        "host", "n_urls", "reg_zeros", "hll_raw", "hll_est"
    )


def _sql_hll() -> str:
    hex60 = "CAST('0x' || substr(md5(curl), 1, 15) AS BIGINT)"
    return f"""
WITH chain AS ({_sql_canonical_chain(_SQL_VARIANTS)}),
c AS (SELECT host, canonical_url AS curl FROM chain),
t AS (SELECT host, {hex60} % {HLL_M} AS reg, {hex60} // {HLL_M} AS rest
      FROM c),
r AS (SELECT host, reg,
             LEAST(bit_count((rest & -rest) - 1) + 1, {HLL_RMAX}) AS rho
      FROM t),
mx AS (SELECT host, reg, MAX(rho) AS mr FROM r GROUP BY host, reg),
grid AS (SELECT host, g.range AS reg
         FROM (SELECT DISTINCT host FROM c) CROSS JOIN range(0, {HLL_M}) g),
fl AS (SELECT grid.host, grid.reg, COALESCE(mx.mr, 0) AS mr
       FROM grid LEFT JOIN mx ON grid.host = mx.host AND grid.reg = mx.reg),
agg AS (SELECT host,
               CAST(SUM(CAST(1 AS BIGINT) << CAST({HLL_RMAX} - mr AS INTEGER))
                    AS BIGINT) AS zp,
               CAST(SUM(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS reg_zeros
        FROM fl GROUP BY host),
rawq AS (SELECT host, reg_zeros,
                CAST(({_HLL_NUM} // zp) // {HLL_ALPHA_SCALE} AS BIGINT)
                  AS hll_raw
         FROM agg),
ex AS (SELECT host, COUNT(DISTINCT curl) AS n_urls FROM c GROUP BY host)
SELECT ex.host, n_urls, reg_zeros, hll_raw,
       {_hll_est_sql("reg_zeros", "hll_raw")} AS hll_est
FROM ex JOIN rawq ON ex.host = rawq.host
"""


# --- recrawl scheduling -----------------------------------------------------
# A continuous crawler revisits hosts in proportion to how often their
# pages change (Cho & Garcia-Molina 2003, 'Effective page refresh
# policies for web crawlers'): estimate a per-host change rate from
# the fetch history, map it to a revisit tier, and emit the next due
# time.  The events table stands in for the fetch log (each event =
# one fetch; a 'purchase' event = the fetched page had changed —
# deterministic stand-ins, same rule in the oracle).
RECRAWL_RATE_SCALE = 1_000_000   # change rate in parts-per-million
# (tier, min change-rate ppm, revisit interval in microseconds)
RECRAWL_TIERS = (
    ("hourly", 500_000, 3_600_000_000),
    ("daily", 200_000, 86_400_000_000),
    ("weekly", 50_000, 604_800_000_000),
    ("monthly", 0, 2_592_000_000_000),
)


def _recrawl_tier_sql(ratecol: str) -> str:
    parts = " ".join(
        f"WHEN {ratecol} >= {lo} THEN '{name}'"
        for name, lo, _ in RECRAWL_TIERS[:-1]
    )
    return f"CASE {parts} ELSE '{RECRAWL_TIERS[-1][0]}' END"


def _recrawl_interval_sql(tiercol: str) -> str:
    parts = " ".join(
        f"WHEN '{name}' THEN CAST({us} AS BIGINT)"
        for name, _, us in RECRAWL_TIERS
    )
    return f"CASE {tiercol} {parts} END"


def web_recrawl_schedule(spark, sf_dir):
    """(host, n_fetches, n_changes, change_rate_ppm, tier,
    last_fetch_us, next_due_us): per-host recrawl plan from the fetch
    log — fixed-point change-rate estimate, tier lookup, next due
    time off the last fetch.

    Scale shape: ONE hash agg over the fetch log with map-side combine
    (count/sum/max all combine); everything after is per-host
    arithmetic on the bounded host table.  Timestamps go through
    unix_micros(cast(ts as timestamp)) (TIMESTAMP_NTZ has no direct
    long cast in Spark 4 — CLAUDE.md gotcha #8; DuckDB mirrors with
    epoch_us).  Deterministic: integer rate + threshold tiers, no
    float anywhere."""
    e = read_table(spark, sf_dir, "events")
    f0 = e.select(
        F.concat(
            F.lit("site"), (F.col("user_id") % 20).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
        (F.col("event_type") == "purchase").cast("long").alias("chg"),
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
    )
    a = f0.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_fetches"),
        F.sum("chg").alias("n_changes"),
        F.max("us").alias("last_fetch_us"),
    )
    r = a.withColumn(
        "change_rate_ppm",
        F.expr(f"({RECRAWL_RATE_SCALE} * n_changes) div n_fetches"),
    ).withColumn("tier", F.expr(_recrawl_tier_sql("change_rate_ppm")))
    return r.select(
        "host", "n_fetches", "n_changes", "change_rate_ppm", "tier",
        "last_fetch_us",
        (
            F.col("last_fetch_us")
            + F.expr(_recrawl_interval_sql("tier"))
        ).alias("next_due_us"),
    )


def _sql_recrawl() -> str:
    return f"""
WITH f AS (SELECT 'site' || CAST(user_id % 20 AS VARCHAR) || '.example.com'
             AS host,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS chg,
           epoch_us(ts) AS us
           FROM events),
a AS (SELECT host, COUNT(*) AS n_fetches,
             CAST(SUM(chg) AS BIGINT) AS n_changes,
             MAX(us) AS last_fetch_us
      FROM f GROUP BY host),
r AS (SELECT *, ({RECRAWL_RATE_SCALE} * n_changes) // n_fetches
               AS change_rate_ppm FROM a),
t AS (SELECT *, {_recrawl_tier_sql("change_rate_ppm")} AS tier FROM r)
SELECT host, n_fetches, n_changes, change_rate_ppm, tier, last_fetch_us,
       last_fetch_us + {_recrawl_interval_sql("tier")} AS next_due_us
FROM t
"""


# --- crawl-frontier BFS -----------------------------------------------------
CRAWL_SEEDS = (0, 5)    # seed hosts for frontier expansion
MAX_BFS_ITERS = 25      # > any possible diameter of the 20-host graph


def web_crawl_depth(spark, sf_dir):
    """(host, depth): minimum link distance from the crawl seeds over
    the host graph — the frontier-expansion primitive of a BFS
    crawler (seed list -> hop-1 hosts -> hop-2 ...), also the
    'crawl depth' feature quality pipelines cut on (deep hosts are
    disproportionately spam).

    Scale shape — DELTA-FRONTIER BFS, not whole-graph relaxation:
    each iteration joins only the CURRENT FRONTIER (hosts settled
    last round) against the edge list, anti-joins out already-settled
    hosts, and unions the survivors in; per-iteration shuffle is
    O(frontier out-degree), never O(graph), and iterations stop the
    round the frontier empties (driver sync = one count per round,
    the pagerank/CC convergence pattern; localCheckpoint truncates
    lineage so the plan does not grow with depth).  Unreachable hosts
    are absent from the output (no sentinel).  Deterministic: depth
    is the iteration index — min distance by construction.  Oracle:
    recursive-CTE shortest path with the same depth bound."""
    d = read_table(spark, sf_dir, "documents")
    # lazy localCheckpoints (r7): the per-layer count() materializes
    # (and lineage-truncates) each table in the same job, instead of
    # one eager materialization job PLUS one count job per BFS layer
    edges = (
        _host_edges(d).select("src", "dst").distinct()
        .localCheckpoint(eager=False)
    )
    seeds = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
        .filter(F.col("host").isin(*CRAWL_SEEDS))
        .select("host", F.lit(0).cast("long").alias("depth"))
        .localCheckpoint(eager=False)
    )
    settled = seeds
    frontier = seeds
    for i in range(1, MAX_BFS_ITERS + 1):
        nxt = (
            frontier.join(edges, frontier.host == edges.src)
            .select(F.col("dst").alias("host"))
            .distinct()
            .join(settled, "host", "left_anti")
            .select("host", F.lit(i).cast("long").alias("depth"))
            .localCheckpoint(eager=False)
        )
        # bounded driver sync: one count per BFS layer
        if nxt.count() == 0:
            break
        settled = settled.union(nxt).localCheckpoint(eager=False)
        frontier = nxt
    return settled


SQL_CRAWL_DEPTH = f"""
WITH RECURSIVE
eset AS (SELECT DISTINCT CAST(doc_id % 20 AS BIGINT) AS src,
                CAST((doc_id % 20 + 1 + doc_id % 7) % 20 AS BIGINT) AS dst
         FROM documents),
hosts AS (SELECT src AS host FROM eset UNION SELECT dst FROM eset),
r AS (SELECT host, 0 AS depth FROM hosts
      WHERE host IN {CRAWL_SEEDS}
      UNION
      SELECT e.dst, r.depth + 1 FROM r JOIN eset e ON e.src = r.host
      WHERE r.depth < {MAX_BFS_ITERS})
SELECT host, CAST(MIN(depth) AS BIGINT) AS depth FROM r GROUP BY host
"""


QUERIES = {
    "web_url_canonicalize": web_url_canonicalize,
    "web_host_rollup": web_host_rollup,
    "web_url_dedup": web_url_dedup,
    "web_host_quality": web_host_quality,
    "web_host_pagerank": web_host_pagerank,
    "web_blocklist_filter": web_blocklist_filter,
    "web_distinct_hll": web_distinct_hll,
    "web_recrawl_schedule": web_recrawl_schedule,
    "web_crawl_depth": web_crawl_depth,
}
ORACLES = {
    "web_url_canonicalize": SQL_URL_CANONICALIZE,
    "web_host_rollup": SQL_HOST_ROLLUP,
    "web_url_dedup": SQL_URL_DEDUP,
    "web_host_quality": _sql_host_quality(),
    "web_host_pagerank": _sql_pagerank(),
    "web_blocklist_filter": SQL_BLOCKLIST,
    "web_distinct_hll": _sql_hll(),
    "web_recrawl_schedule": _sql_recrawl(),
    "web_crawl_depth": SQL_CRAWL_DEPTH,
}
