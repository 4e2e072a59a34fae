"""End-to-end corpus curation: the composite query a training-data
pipeline actually runs, built from the engine's own operators —

    exact dedup (canonical doc per content hash)
    -> language gate (n-gram/stopword langid == 'en')
    -> quality gate (rational-arithmetic score >= threshold)
    -> per-source token budget report

One DuckDB-oracled query proving the stages COMPOSE with exact
cross-engine semantics, not just pass in isolation.  Scale shape: one
hash shuffle for the dedup groupBy, everything else is map + one final
small aggregation; no stage widens the data (the text column never
survives past the per-doc scoring projection).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .tables import read_table

from .textstats import (
    LANG_MARKERS,
    TOKEN_RE,
    _dup_frac,
    _marker_hits,
    _max_run,
    _sql_hits,
    _sql_ngrams,
    _word_ngrams,
    alpha_count,
    doc_fraction,
    lang_guess,
    quality_score,
    text_hash,
    token_count,
    word_count,
)

QUALITY_MIN = 0.5   # floored score threshold (same floored value both engines)


def curate_corpus(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents")
    fp = text_hash()
    # canonical row per fp in ONE combine-enabled shuffle (r7): struct
    # comparison is lexicographic and doc_id leads, so min(struct)
    # picks the min-doc_id row — the partial aggregation reduces each
    # partition to one candidate per fp, so the text payload crosses
    # the exchange once.  The previous groupBy + self-join on fp
    # shuffled the text twice (guide §2.3/§8).
    kept = (
        d.withColumn("fp", fp)
        .groupBy("fp")
        .agg(F.min(F.struct("doc_id", "text", "source")).alias("r"))
        .select("r.doc_id", "r.text", "r.source")
    )

    hits = {lg: _marker_hits(lg).alias(f"{lg}_hits") for lg in LANG_MARKERS}
    scored = kept.select(
        "doc_id", "source", word_count().alias("n_words"),
        alpha_count().alias("n_alpha"), token_count().alias("n_tokens"),
        *hits.values(),
    )
    q = quality_score(F.col("n_words"), F.col("en_hits"), F.col("n_alpha"))
    per_doc = scored.select(
        "doc_id", "source", "n_tokens",
        lang_guess().alias("pred_lang"),
        (F.floor(q * 1_000_000) / 1_000_000).alias("quality"),
    ).filter((F.col("pred_lang") == "en") & (F.col("quality") >= QUALITY_MIN))

    dec = "decimal(18,6)"
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        # floored 6-decimal scores are exact in DECIMAL(18,6): the sum
        # (and thus the mean) is order-independent across partitionings
        (F.floor(
            (F.sum(F.col("quality").cast(dec)).cast("double") / F.count(F.lit(1)))
            * 1_000_000
        ) / 1_000_000).alias("avg_quality"),
    )


SQL_CURATE = f"""
WITH f AS (SELECT *, md5(lower(trim(text))) AS fp FROM documents),
c AS (SELECT fp, MIN(doc_id) AS canonical_id FROM f GROUP BY fp),
kept AS (SELECT f.* FROM f JOIN c ON f.fp = c.fp AND f.doc_id = c.canonical_id),
s AS (SELECT doc_id, source,
             len(string_split(trim(text), ' ')) AS n_words,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
             len(regexp_extract_all(text, '{TOKEN_RE}')) AS n_tokens,
             {_sql_hits('en')} AS en_hits,
             {_sql_hits('de')} AS de_hits,
             {_sql_hits('fr')} AS fr_hits,
             {_sql_hits('es')} AS es_hits
      FROM kept),
p AS (SELECT doc_id, source, n_tokens,
             CASE WHEN greatest(en_hits, de_hits, fr_hits, es_hits) = 0 THEN 'unknown'
                  WHEN en_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'en'
                  WHEN de_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'de'
                  WHEN fr_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'fr'
                  ELSE 'es' END AS pred_lang,
             floor((least(n_words / 100.0, 1.0) * 0.4
                    + least(en_hits * 1.0 / n_words * 5.0, 1.0) * 0.4
                    + least((n_alpha * 1.0 / n_words) / 8.0, 1.0) * 0.2)
                   * 1000000) / 1000000 AS quality
      FROM s)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       FLOOR(CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
             * 1000000) / 1000000 AS avg_quality
FROM p
WHERE pred_lang = 'en' AND quality >= {QUALITY_MIN}
GROUP BY source
"""

# per-language sampling rates for the stratified sampler (a training
# mix: over-sample high-resource quality langs, down-sample the tail)
SAMPLE_RATES = {"en": 0.5, "de": 0.5, "fr": 0.25, "es": 0.25}
SAMPLE_DEFAULT_RATE = 0.1


def _by_lang(values: dict, default):
    """Column: values[lang] for the `lang` column, else `default`."""
    out = default
    for lg, v in sorted(values.items()):
        out = F.when(F.col("lang") == lg, F.lit(v)).otherwise(out)
    return out


def curate_sample_stratified(spark, sf_dir):
    """Deterministic stratified sampling by language — the step that
    turns a curated pool into a training MIX.  The sampling decision is
    a pure function of doc_id (first 32 bits of md5 -> frac in [0,1);
    keep iff frac < rate[lang]): no RNG, so reruns/resumes/audits select
    the SAME docs, and the operator is a pure map — no shuffle, no
    state, embarrassingly parallel at 10^12 rows.  (Production would use
    xxhash64 for speed; md5 keeps the oracle exact in SQL — same
    engine-independent-hash reasoning as text_fingerprint.)"""
    d = read_table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id", "lang",
            doc_fraction().alias("_frac"),
            _by_lang(SAMPLE_RATES, F.lit(SAMPLE_DEFAULT_RATE)).alias("_rate"),
        )
        .filter(F.col("_frac") < F.col("_rate"))
        .select(
            "doc_id", "lang",
            (F.floor(F.col("_frac") * 1_000_000) / 1_000_000).alias("sample_frac"),
        )
    )


_RATE_CASE = "CASE lang " + " ".join(
    f"WHEN '{lg}' THEN {r}" for lg, r in sorted(SAMPLE_RATES.items())
) + f" ELSE {SAMPLE_DEFAULT_RATE} END"

SQL_SAMPLE = f"""
WITH s AS (
  SELECT doc_id, lang,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           / 4294967296.0 AS frac
  FROM documents)
SELECT doc_id, lang, FLOOR(frac * 1000000) / 1000000 AS sample_frac
FROM s
WHERE frac < {_RATE_CASE}
"""

# --- composite quality gate (Gopher/Dolma-style drop rules) -----------------
# Published crawl-filtering practice expresses quality as a cascade of
# cheap hard rules with REASON CODES (so dropped mass is attributable
# per rule — C4, Gopher, Dolma all report per-rule drop statistics).
GATE_MIN_WORDS = 15        # shorter docs carry no training signal
GATE_MAX_RUN = 4           # "spam spam spam spam" degeneracy
GATE_MAX_DUP_BIGRAM = 0.2  # Gopher-style duplicate-n-gram ceiling


def gate_reason():
    """Column: first failing rule for the `text` column (cascade
    order: length, run degeneracy, bigram repetition, language-signal
    floor; 'ok' if none).  A pure column expression so the gate
    composes anywhere a `text` column exists — the batch documents
    query below, or a Structured Streaming extraction pipeline
    (stateless map: streams gate per micro-batch with no state)."""
    toks = F.split(F.col("text"), " ")
    n_words = F.size(toks)
    total_hits = None
    for lg in LANG_MARKERS:
        h = _marker_hits(lg)
        total_hits = h if total_hits is None else total_hits + h
    return (
        F.when(n_words < GATE_MIN_WORDS, F.lit("too_short"))
        .when(_max_run() >= GATE_MAX_RUN, F.lit("long_run"))
        .when(_dup_frac(_word_ngrams(2)) > GATE_MAX_DUP_BIGRAM,
              F.lit("dup_bigrams"))
        .when(total_hits == 0, F.lit("no_stopwords"))
        .otherwise(F.lit("ok"))
    )


def curate_quality_gate(spark, sf_dir):
    """Composite keep/drop gate with per-rule reason codes — the first
    failing rule wins (see gate_reason).  Pure map (one scan, codegen'd
    expressions, no shuffle): at 10^12 rows the gate costs what the
    scan costs, and the reason column aggregates into the per-rule
    drop report every corpus card publishes."""
    d = read_table(spark, sf_dir, "documents", wide=True)
    reason = gate_reason()
    return d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_words"),
        reason.alias("fail_reason"),
        (reason == "ok").alias("keep"),
    )


_GATE_HITS = " + ".join(_sql_hits(lg) for lg in LANG_MARKERS)
SQL_QUALITY_GATE = f"""
WITH g AS (
  SELECT doc_id, string_split(text, ' ') AS t,
         {_GATE_HITS} AS total_hits
  FROM documents),
s AS (
  SELECT doc_id, len(t) AS n_words, total_hits,
         {_sql_ngrams(2)} AS b2,
         [i FOR i IN range(1, len(t) + 1)
            IF i = 1 OR t[i] != t[i-1]] || [len(t) + 1] AS bounds
  FROM g),
r AS (
  SELECT doc_id, n_words,
         CASE WHEN n_words < {GATE_MIN_WORDS} THEN 'too_short'
              WHEN list_max(list_transform(range(1, len(bounds)),
                            j -> bounds[j+1] - bounds[j])) >= {GATE_MAX_RUN}
                THEN 'long_run'
              WHEN floor((len(b2) - len(list_distinct(b2))) * 1.0 / len(b2)
                         * 1000000) / 1000000 > {GATE_MAX_DUP_BIGRAM}
                THEN 'dup_bigrams'
              WHEN total_hits = 0 THEN 'no_stopwords'
              ELSE 'ok' END AS fail_reason
  FROM s)
SELECT doc_id, n_words, fail_reason, fail_reason = 'ok' AS keep FROM r
"""


def curate_gate_report(spark, sf_dir):
    """Per-rule drop report — the corpus-card table (C4/Gopher/Dolma
    all publish one): docs and word mass per gate outcome.  One scan +
    one tiny aggregation (5 possible keys) with map-side combine; at
    10^12 rows the shuffle moves at most a few partial rows per task."""
    d = read_table(spark, sf_dir, "documents")
    reason = gate_reason()
    return (
        d.select(
            reason.alias("fail_reason"),
            F.size(F.split(F.col("text"), " ")).alias("n_words"),
        )
        .groupBy("fail_reason")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("long").alias("sum_words"),
        )
    )


SQL_GATE_REPORT = f"""
WITH g AS ({SQL_QUALITY_GATE})
SELECT fail_reason, COUNT(*) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS sum_words
FROM g GROUP BY fail_reason
"""


# --- benchmark decontamination ----------------------------------------------
# Published practice (GPT-3 appendix C; Dolma): drop or flag training
# documents sharing a long n-gram with any evaluation-benchmark text.
# The benchmark set here is a deterministic slice of the corpus itself
# (doc_id % CONTAM_MOD == 0 stands in for the eval suite) — no external
# data, same derivation in both engines.
CONTAM_K = 4        # n-gram length; long enough that overlap is evidence
CONTAM_MOD = 97


def _contam_ngrams():
    """Column: DISTINCT CONTAM_K-word grams of `text` (docs shorter
    than K words contribute their whole text — mirrored in SQL).
    Built on _word_ngrams' slice+zip_with shape (see its performance
    contract: the source array must be a HOF argument, never indexed
    per element)."""
    return F.array_distinct(_word_ngrams(CONTAM_K))


def curate_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag every training document sharing
    at least one CONTAM_K-word gram with the benchmark slice; output
    (doc_id, n_shared distinct grams).

    Scale shape: the benchmark side is constant-size (an eval suite,
    not the corpus), so its distinct-gram set BROADCASTS — the
    contamination check is then a map-side semi-join over the corpus
    scan plus one (doc_id)-keyed count with map-side combine; the
    10^12-row side never shuffles its grams.  Output is only the
    contaminated docs (sparse by construction — a shared 4-gram from a
    ~30-word vocabulary is ~1e-4 per gram — so the result is small)."""
    d = read_table(spark, sf_dir, "documents", wide=True)
    grams = d.select(
        "doc_id", F.explode(_contam_ngrams()).alias("g")
    )
    bench = (
        grams.filter(F.col("doc_id") % CONTAM_MOD == 0)
        .select("g").distinct()
    )
    return (
        grams.filter(F.col("doc_id") % CONTAM_MOD != 0)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


_CONTAM_GRAM = " || ' ' || ".join(f"t[i+{j}]" for j in range(CONTAM_K))
SQL_DECONTAM = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
ng AS (
  SELECT DISTINCT doc_id, u.g FROM toks,
    UNNEST(CASE WHEN len(t) >= {CONTAM_K}
           THEN [{_CONTAM_GRAM} FOR i IN range(1, len(t) - {CONTAM_K} + 2)]
           ELSE [array_to_string(t, ' ')] END) AS u(g)),
bench AS (SELECT DISTINCT g FROM ng WHERE doc_id % {CONTAM_MOD} = 0)
SELECT ng.doc_id, COUNT(*) AS n_shared
FROM ng JOIN bench USING (g)
WHERE ng.doc_id % {CONTAM_MOD} != 0
GROUP BY ng.doc_id
"""

# --- token-budget corpus packing (training-mix assembly) --------------------
# "Give me the best ~40% of the corpus by tokens" WITHOUT a global sort:
# a global quality sort + running token sum is inherently sequential
# (one task sees every row).  The scale-correct construction quantizes
# quality into N_QUALITY_BINS, aggregates token mass per bin (<= 32
# rows), solves the greedy knapsack over those 32 rows with a window —
# full bins keep everything, the single boundary bin keeps a
# deterministic md5-hash fraction, lower bins drop — and broadcasts the
# 32-row rule back onto the docs.  Per-doc work is a pure map + one
# tiny agg; the only window in the plan runs over <= 32 rows.
TOKEN_BUDGET_FRACTION = 0.4
N_QUALITY_BINS = 32


def curate_token_budget(spark, sf_dir):
    """(doc_id, qbin, n_tokens, kept): kept docs total ~
    TOKEN_BUDGET_FRACTION of corpus tokens, chosen best-quality-first
    (textstats.quality_score, as in curate_corpus).  Deterministic: the
    boundary bin samples by doc_fraction (the curate_sample_stratified
    pattern), so reruns select the same docs."""
    from pyspark.sql import Window

    d = read_table(spark, sf_dir, "documents")
    q = quality_score(word_count(), _marker_hits("en"), alpha_count())
    # (doc_id, n_tokens, qbin) feeds BOTH the bin aggregation and the
    # final rule join: localCheckpoint (lazy) computes the regex-heavy
    # token count + quality map once instead of once per consumer
    # (r7 — the line_dedup shared-build pattern; 3 small ints per row)
    per_doc = d.select(
        "doc_id",
        token_count().alias("n_tokens"),
        F.least(
            F.floor(q * N_QUALITY_BINS).cast("int"), F.lit(N_QUALITY_BINS - 1)
        ).alias("qbin"),
    ).localCheckpoint(eager=False)
    bins = per_doc.groupBy("qbin").agg(F.sum("n_tokens").alias("bt"))
    # windows over the <= 32-row bin table ONLY (the single-task window
    # is bounded by construction — never over docs)
    w_desc = Window.orderBy(F.desc("qbin")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.partitionBy()
    r = bins.select(
        "qbin", "bt",
        F.coalesce(F.sum("bt").over(w_desc), F.lit(0)).alias("taken"),
        F.floor(F.sum("bt").over(w_all) * TOKEN_BUDGET_FRACTION).alias("budget"),
    )
    rule = r.select(
        "qbin",
        F.when(F.col("taken") + F.col("bt") <= F.col("budget"), F.lit(1.0))
        .when(F.col("taken") >= F.col("budget"), F.lit(0.0))
        .otherwise((F.col("budget") - F.col("taken")) / F.col("bt"))
        .alias("keep_frac"),
    )
    return (
        per_doc.join(F.broadcast(rule), "qbin")
        .select(
            "doc_id", "qbin", "n_tokens",
            (doc_fraction() < F.col("keep_frac")).alias("kept"),
        )
    )


SQL_TOKEN_BUDGET = f"""
WITH s AS (SELECT doc_id,
                  len(regexp_extract_all(text, '{TOKEN_RE}')) AS n_tokens,
                  len(string_split(trim(text), ' ')) AS n_words,
                  length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
                  {_sql_hits('en')} AS en_hits
           FROM documents),
p AS (SELECT doc_id, n_tokens,
             LEAST(CAST(FLOOR((least(n_words / 100.0, 1.0) * 0.4
                               + least(en_hits * 1.0 / n_words * 5.0, 1.0) * 0.4
                               + least((n_alpha * 1.0 / n_words) / 8.0, 1.0) * 0.2)
                              * {N_QUALITY_BINS}) AS INTEGER),
                   {N_QUALITY_BINS - 1}) AS qbin
      FROM s),
b AS (SELECT qbin, SUM(n_tokens) AS bt FROM p GROUP BY qbin),
r AS (SELECT qbin, bt,
             COALESCE(SUM(bt) OVER (ORDER BY qbin DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS taken,
             FLOOR(SUM(bt) OVER () * {TOKEN_BUDGET_FRACTION}) AS budget
      FROM b),
rule AS (SELECT qbin,
                CASE WHEN taken + bt <= budget THEN 1.0
                     WHEN taken >= budget THEN 0.0
                     ELSE (budget - taken) * 1.0 / bt END AS keep_frac
         FROM r),
f AS (SELECT doc_id,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
               / 4294967296.0 AS frac
      FROM documents)
SELECT p.doc_id, p.qbin, p.n_tokens, f.frac < rule.keep_frac AS kept
FROM p JOIN rule USING (qbin) JOIN f ON f.doc_id = p.doc_id
"""


# --- target-mixture balancing (training-mix assembly) -----------------------
# A training corpus is specified as PROPORTIONS over strata ("50% en,
# 20% de, ...": the Pile, Llama, DoReMi all publish such mixtures),
# but the pool's availability per stratum never matches the target.
# The feasibility-scaled construction: the largest total token budget
# T for which every stratum can supply its share is
# T = min_s avail_s / target_s; each stratum then keeps rate_s =
# target_s * T / avail_s of its token mass (rate = 1 for the binding
# stratum) via the deterministic md5-fraction sampler.
MIXTURE_TARGET = {"en": 0.5, "de": 0.2, "fr": 0.2, "es": 0.1}


def curate_domain_mixture(spark, sf_dir):
    """(doc_id, lang, n_tokens, rate, kept): deterministic downsampling
    so kept token mass matches MIXTURE_TARGET proportions at the
    maximum feasible budget.  Langs outside the target get rate 0.

    Scale shape: availability is one map-side-combined aggregation to
    <= n_langs rows; the budget scalar and the per-stratum rate table
    both stay driver-free (a <= n_langs-row cross join, then a
    BROADCAST join back onto the docs), so the per-doc decision is a
    pure map over one corpus scan — same shape as
    curate_sample_stratified but with DATA-DERIVED rates.
    Deterministic: rates are floored to 1e-6 (identical double
    arithmetic both engines); the keep decision is a pure function of
    doc_id."""
    d = read_table(spark, sf_dir, "documents")
    per_doc = d.select("doc_id", "lang", token_count().alias("n_tokens"))
    avail = (
        per_doc.groupBy("lang")
        .agg(F.sum("n_tokens").alias("avail"))
        .withColumn("tgt", _by_lang(MIXTURE_TARGET, F.lit(None).cast("double")))
        .filter(F.col("tgt").isNotNull())
    )
    budget = avail.agg(F.min(F.col("avail") / F.col("tgt")).alias("t_max"))
    rates = (
        avail.crossJoin(F.broadcast(budget))
        .select(
            "lang",
            (F.floor(
                F.least(F.lit(1.0), F.col("tgt") * F.col("t_max") / F.col("avail"))
                * 1_000_000
            ) / 1_000_000).alias("rate"),
        )
    )
    return (
        per_doc.join(F.broadcast(rates), "lang", "left")
        .select(
            "doc_id", "lang", "n_tokens",
            F.coalesce(F.col("rate"), F.lit(0.0)).alias("rate"),
            (doc_fraction() < F.coalesce(F.col("rate"), F.lit(0.0))).alias("kept"),
        )
    )


_TGT_CASE = "CASE lang " + " ".join(
    f"WHEN '{lg}' THEN {t}" for lg, t in sorted(MIXTURE_TARGET.items())
) + " ELSE NULL END"

SQL_MIXTURE = f"""
WITH p AS (SELECT doc_id, lang,
                  len(regexp_extract_all(text, '{TOKEN_RE}')) AS n_tokens
           FROM documents),
a AS (SELECT lang, SUM(n_tokens) AS avail, {_TGT_CASE} AS tgt
      FROM p GROUP BY lang HAVING {_TGT_CASE} IS NOT NULL),
b AS (SELECT MIN(avail / tgt) AS t_max FROM a),
r AS (SELECT lang,
             FLOOR(LEAST(1.0, tgt * t_max / avail) * 1000000) / 1000000 AS rate
      FROM a, b)
SELECT p.doc_id, p.lang, p.n_tokens,
       COALESCE(r.rate, 0.0) AS rate,
       CAST('0x' || substr(md5(CAST(p.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
         / 4294967296.0 < COALESCE(r.rate, 0.0) AS kept
FROM p LEFT JOIN r ON p.lang = r.lang
"""


# --- sequence packing (training-batch assembly) -----------------------------
# LM training consumes FIXED-LENGTH token sequences: documents are
# concatenated in a deterministic order and chopped every
# PACK_SEQ_TOKENS tokens (the GPT-2/3 recipe), so a packing pass must
# tell each doc which sequence(s) its tokens land in.  Packing is
# inherently a running sum — made scale-parallel by sharding first:
# each shard packs independently (training files are per-shard
# anyway), so the only window runs inside one shard.
PACK_SEQ_TOKENS = 256
PACK_SHARDS = 32


def curate_pack_sequences(spark, sf_dir):
    """(doc_id, shard, n_tokens, start_tok, seq_first, seq_last):
    within shard = doc_id % PACK_SHARDS, docs concatenate in doc_id
    order; start_tok is the doc's offset in the shard's token stream,
    seq_first/seq_last the PACK_SEQ_TOKENS-sized training sequences
    its tokens span (docs straddle boundaries, exactly like the
    concatenate-and-chop training recipe).

    Scale shape: ONE window (cumulative sum) partitioned by shard —
    each shard is a single sorted task, so PACK_SHARDS is chosen so a
    shard's (doc_id, n_tokens) pairs fit a task comfortably (the rows
    are two longs; a 10^12-doc corpus at 10^5 shards is 10^7 rows of
    16 bytes per task).  In production the shard is the output-file
    key, so this pass rides the existing bucket layout: sort within
    bucket, no extra global shuffle.  Integer arithmetic only —
    deterministic and engine-exact."""
    from pyspark.sql import Window

    d = read_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        token_count().alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    return per_doc.select(
        "doc_id", "shard", "n_tokens", start.alias("start_tok")
    ).select(
        "doc_id", "shard", "n_tokens", "start_tok",
        F.expr(f"CAST(start_tok DIV {PACK_SEQ_TOKENS} AS LONG)").alias("seq_first"),
        # greatest(...) guards the n_tokens=0 doc: start_tok - 1 can be
        # negative, and Spark's DIV truncates toward zero while DuckDB's
        # // floors — -1 DIV 2048 = 0 vs -1 // 2048 = -1, a cross-engine
        # mismatch (and seq_last < seq_first).  A zero-token doc spans
        # exactly its own starting sequence (ADVICE r5).
        F.expr(
            f"CAST(greatest(start_tok + n_tokens - 1, start_tok)"
            f" DIV {PACK_SEQ_TOKENS} AS LONG)"
        ).alias("seq_last"),
    )


SQL_PACK = f"""
WITH p AS (SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
                  len(regexp_extract_all(text, '{TOKEN_RE}')) AS n_tokens
           FROM documents),
s AS (SELECT doc_id, shard, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS start_tok
      FROM p)
SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(start_tok // {PACK_SEQ_TOKENS} AS BIGINT) AS seq_first,
       CAST(greatest(start_tok + n_tokens - 1, start_tok) // {PACK_SEQ_TOKENS} AS BIGINT) AS seq_last
FROM s
"""


# --- epoch planning (data-constrained training) -----------------------------
# When the training token budget EXCEEDS what a stratum can supply at
# its target share, pipelines repeat that stratum for multiple epochs
# (published data-constrained scaling practice caps useful repetition
# around ~4 epochs, after which returns decay to ~zero).  The plan
# below reports, per target stratum: how many epochs its pool must be
# repeated to fill its share of the budget, the effective tokens it
# can actually contribute under the epoch cap, and whether the cap
# binds.  Budget is a rational multiple of the corpus so the whole
# computation stays in exact integers until the final ratios.
EPOCH_BUDGET_NUM, EPOCH_BUDGET_DEN = 3, 2  # budget = 1.5x corpus tokens
MAX_EPOCHS = 4


def curate_epoch_plan(spark, sf_dir):
    """(lang, avail_tokens, need_tokens, epochs, eff_tokens,
    constrained) per MIXTURE_TARGET stratum, for a training budget of
    EPOCH_BUDGET_NUM/DEN x total corpus tokens:

        need   = floor(target * budget)         (stratum's share)
        epochs = need / avail, floored to 1e-6  (repetition factor)
        eff    = min(need, MAX_EPOCHS * avail)  (the epoch cap binds
        constrained = need > MAX_EPOCHS * avail  what's usable)

    Scale shape: ONE map-side-combined aggregation to <= n_langs rows
    + a broadcast one-row total — per-doc work is the token-count scan
    already paid by every curation query; the plan itself is
    constant-size.  Integer arithmetic except the floored epochs
    ratio (identical double division both engines)."""
    d = read_table(spark, sf_dir, "documents")
    per_doc = d.select("lang", token_count().alias("n_tokens"))
    total = per_doc.agg(
        F.expr(
            f"CAST(({EPOCH_BUDGET_NUM} * SUM(n_tokens))"
            f" DIV {EPOCH_BUDGET_DEN} AS LONG)"
        ).alias("budget")
    )
    avail = (
        per_doc.groupBy("lang")
        .agg(F.sum("n_tokens").alias("avail_tokens"))
        .withColumn("tgt", _by_lang(MIXTURE_TARGET, F.lit(None).cast("double")))
        .filter(F.col("tgt").isNotNull())
    )
    need = F.floor(F.col("tgt") * F.col("budget")).cast("long")
    cap = (F.lit(MAX_EPOCHS) * F.col("avail_tokens")).cast("long")
    return (
        avail.crossJoin(F.broadcast(total))
        .select(
            "lang",
            F.col("avail_tokens").cast("long").alias("avail_tokens"),
            need.alias("need_tokens"),
            (F.floor(need / F.col("avail_tokens") * 1e6) / 1e6).alias("epochs"),
            F.least(need, cap).alias("eff_tokens"),
            (need > cap).alias("constrained"),
        )
    )


SQL_EPOCH_PLAN = f"""
WITH p AS (SELECT lang,
                  len(regexp_extract_all(text, '{TOKEN_RE}')) AS n_tokens
           FROM documents),
b AS (SELECT CAST(({EPOCH_BUDGET_NUM} * SUM(n_tokens))
             // {EPOCH_BUDGET_DEN} AS BIGINT) AS budget FROM p),
a AS (SELECT lang, SUM(n_tokens) AS avail, {_TGT_CASE} AS tgt
      FROM p GROUP BY lang HAVING {_TGT_CASE} IS NOT NULL),
n AS (SELECT lang, avail, CAST(FLOOR(tgt * budget) AS BIGINT) AS need,
             CAST({MAX_EPOCHS} * avail AS BIGINT) AS cap
      FROM a, b)
SELECT lang,
       CAST(avail AS BIGINT) AS avail_tokens,
       need AS need_tokens,
       FLOOR(need * 1.0 / avail * 1e6) / 1e6 AS epochs,
       LEAST(need, cap) AS eff_tokens,
       need > cap AS constrained
FROM n
"""


# --- DSIR importance weighting (hashed n-gram distribution ratio) -----------
# DSIR (Xie et al. 2023) selects pretraining data by importance
# weights over HASHED n-gram features: w(doc) ~ p_target(features) /
# p_raw(features).  Deterministic fixed-point version: bigrams hash
# into DSIR_BUCKETS via md5 (SQL-expressible, PYTHONHASHSEED-immune),
# per-bucket weight = (target freq / raw freq) as one scaled integer
# ratio, doc score = mean bucket weight over its bigram occurrences.
# The target-domain sample is the doc_id % DSIR_MOD == 0 slice (the
# curate_decontaminate stand-in convention; 17 is coprime to every
# other modulus in the suite).  At 10^12 grams the products
# (SCALE * ct * R) outgrow BIGINT — route through DECIMAL(38,0)
# there; at test scale both engines stay in exact int64.
DSIR_BUCKETS = 8192
DSIR_MOD = 17
DSIR_SCALE = 1_000_000


def _dsir_bucket(gram):
    """Column: md5-derived feature bucket (first 15 hex chars = 60
    bits, mod DSIR_BUCKETS) — the dedup_bloom position arithmetic."""
    return (
        F.conv(F.substring(F.md5(gram), 1, 15), 16, 10).cast("long")
        % DSIR_BUCKETS
    )


def curate_dsir(spark, sf_dir):
    """(doc_id, n_grams, dsir_score): mean fixed-point importance
    weight of the doc's hashed-bigram features, target-over-raw.

    Scale shape: ONE conditional-sum agg produces raw and target
    bucket counts in a single corpus scan (the corpus_drift pattern);
    the count table is <= DSIR_BUCKETS rows, localCheckpoint'ed so its
    three consumers (totals, weights, nothing else rescans) stay
    corpus-free; the weight table BROADCASTS into the scoring join, so
    per-doc scoring is map-side + one doc_id-keyed agg on the job's
    own shard key.  ONE corpus scan total (r7: the bucketed gram
    stream is checkpointed and reused by the score pass), zero
    sort-merge joins."""
    d = read_table(spark, sf_dir, "documents")
    grams = d.select("doc_id", F.explode(_word_ngrams(2)).alias("gram"))
    # the bucketed gram stream feeds BOTH the count pass and the
    # scoring join: localCheckpoint (lazy) builds the ngram arrays and
    # the md5 bucket arithmetic once instead of once per consumer
    # (r7 — the line_dedup shared-build pattern); the materialized rows
    # are 2 longs each, spill-able
    b = grams.select(
        "doc_id", _dsir_bucket(F.col("gram")).alias("bkt")
    ).localCheckpoint(eager=False)
    c = b.groupBy("bkt").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum((F.col("doc_id") % DSIR_MOD == 0).cast("long")).alias("ct"),
    ).localCheckpoint(eager=False)
    tots = c.agg(F.sum("cr").alias("R"), F.sum("ct").alias("T"))
    weights = c.crossJoin(F.broadcast(tots)).select(
        "bkt",
        F.expr(
            f"({DSIR_SCALE} * ct * R) div greatest(T * cr, 1)"
        ).alias("w"),
    )
    return (
        b.join(F.broadcast(weights), "bkt")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.expr("sum(w) div count(1)").alias("dsir_score"),
        )
    )


SQL_DSIR = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (SELECT doc_id, u.gram
      FROM (SELECT doc_id, {_sql_ngrams(2)} AS bg FROM toks),
           UNNEST(bg) AS u(gram)),
b AS (SELECT doc_id,
             CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT)
               % {DSIR_BUCKETS} AS bkt
      FROM g),
c AS (SELECT bkt, COUNT(*) AS cr,
             SUM(CASE WHEN doc_id % {DSIR_MOD} = 0 THEN 1 ELSE 0 END) AS ct
      FROM b GROUP BY bkt),
tot AS (SELECT SUM(cr) AS R, SUM(ct) AS T FROM c),
w AS (SELECT bkt,
             CAST(({DSIR_SCALE} * ct * R) // greatest(T * cr, 1) AS BIGINT)
               AS w
      FROM c, tot)
SELECT doc_id, COUNT(*) AS n_grams,
       CAST(SUM(w) // COUNT(*) AS BIGINT) AS dsir_score
FROM b JOIN w USING (bkt)
GROUP BY doc_id
"""


# --- Gopher quality rules ---------------------------------------------------
# The published Gopher ruleset (Rae et al. 2022, 'Scaling Language
# Models: Methods, Analysis & Insights from Training Gopher', table
# A1), re-expressed with INTEGER-ONLY threshold algebra so the oracle
# is bit-exact: every ratio test  x/y <=> t  becomes  k*x <=> k*t*y
# in BIGINTs (CLAUDE.md gotcha #23 family — no float division
# anywhere).  Word-count bounds are scaled to this corpus (the paper
# uses 50..100,000 on full web pages; the synthetic docs are 20..80
# words, so the lower bound keeps its bite at 30).
GOPHER_MIN_WORDS = 30
GOPHER_MAX_WORDS = 100_000
# the paper's list is (the, be, to, of, and, that, have, with); this
# corpus' only closed-class words are 'the' and 'a', so they lead the
# list to keep the >=2-distinct-stopwords rule binding (same rule,
# corpus-appropriate lexicon — the GOPHER_MIN_WORDS adaptation note)
GOPHER_STOPWORDS = ("the", "a", "be", "to", "of", "and", "that", "with")
GOPHER_MIN_STOPWORDS = 2


def curate_gopher_rules(spark, sf_dir):
    """(doc_id, n_words, r_wordcount, r_meanlen, r_symbol, r_bullet,
    r_ellipsis, r_alpha, r_stop, keep): per-rule pass flags for the
    Gopher quality filter plus the conjunction — kept as SEPARATE
    columns (not a single keep bit) because the per-rule pass rates
    are what a corpus card reports and what threshold tuning needs.

    Rules: word count in [min,max]; mean word length in [3,10] chars;
    hash/ellipsis symbol ratio <= 0.1 per word; <= 90%% bullet-start
    lines; <= 30%% ellipsis-end lines; >= 80%% words with an
    alphabetic char; >= 2 distinct stop words.

    Scale shape: pure map over one scan — every rule is codegen'd
    string/array arithmetic on the row, zero shuffles, zero Python.
    The words array is materialized ONCE as a column and HOF lambdas
    only reference it (never re-derive it — gotcha #19)."""
    d = read_table(spark, sf_dir, "documents", wide=True)
    w = d.select(
        "doc_id",
        F.split(F.trim(F.col("text")), " ").alias("words"),
        F.split(F.col("text"), "\n").alias("lines"),
        F.col("text"),
    )
    n_words = F.size("words")
    n_lines = F.size("lines")
    word_chars = F.length(F.regexp_replace(F.col("text"), r"[ \n]", ""))
    n_sym = F.size(F.expr(r"regexp_extract_all(text, '#|\\.\\.\\.|…', 0)"))
    n_bullet = F.size(
        F.filter("lines", lambda l: l.rlike(r"^[•\-\*]"))
    )
    n_ell = F.size(F.filter("lines", lambda l: l.rlike(r"(\.\.\.|…)$")))
    n_alpha = F.size(F.filter("words", lambda x: x.rlike("[A-Za-z]")))
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct("words"),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    return w.select(
        "doc_id",
        n_words.alias("n_words"),
        ((n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS))
        .alias("r_wordcount"),
        ((word_chars >= 3 * n_words) & (word_chars <= 10 * n_words))
        .alias("r_meanlen"),
        (10 * n_sym <= n_words).alias("r_symbol"),
        (10 * n_bullet <= 9 * n_lines).alias("r_bullet"),
        (10 * n_ell <= 3 * n_lines).alias("r_ellipsis"),
        (5 * n_alpha >= 4 * n_words).alias("r_alpha"),
        (n_stop >= GOPHER_MIN_STOPWORDS).alias("r_stop"),
    ).withColumn(
        "keep",
        F.col("r_wordcount") & F.col("r_meanlen") & F.col("r_symbol")
        & F.col("r_bullet") & F.col("r_ellipsis") & F.col("r_alpha")
        & F.col("r_stop"),
    )


_GOPHER_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS) + "]"

SQL_GOPHER = f"""
WITH w AS (SELECT doc_id, text,
                  string_split(trim(text), ' ') AS words,
                  string_split(text, chr(10)) AS lines
           FROM documents),
m AS (SELECT doc_id,
             len(words) AS n_words,
             len(lines) AS n_lines,
             length(regexp_replace(text, '[ \n]', '', 'g')) AS word_chars,
             len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS n_sym,
             len(list_filter(lines, l -> regexp_matches(l, '^[•\\-\\*]')))
               AS n_bullet,
             len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)$')))
               AS n_ell,
             len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
               AS n_alpha,
             len(list_intersect(list_distinct(words), {_GOPHER_STOP_SQL}))
               AS n_stop
      FROM w)
SELECT doc_id, n_words,
       n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
         AS r_wordcount,
       word_chars >= 3 * n_words AND word_chars <= 10 * n_words AS r_meanlen,
       10 * n_sym <= n_words AS r_symbol,
       10 * n_bullet <= 9 * n_lines AS r_bullet,
       10 * n_ell <= 3 * n_lines AS r_ellipsis,
       5 * n_alpha >= 4 * n_words AS r_alpha,
       n_stop >= {GOPHER_MIN_STOPWORDS} AS r_stop,
       (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
         AND (word_chars >= 3 * n_words AND word_chars <= 10 * n_words)
         AND (10 * n_sym <= n_words)
         AND (10 * n_bullet <= 9 * n_lines)
         AND (10 * n_ell <= 3 * n_lines)
         AND (5 * n_alpha >= 4 * n_words)
         AND (n_stop >= {GOPHER_MIN_STOPWORDS}) AS keep
FROM m
"""


# --- C4 filters -------------------------------------------------------------
# The C4 cleaning rules (Raffel et al. 2020, 'Exploring the Limits of
# Transfer Learning with a Unified Text-to-Text Transformer', §2.2):
# keep only lines ending in terminal punctuation with >= 5 words and
# no 'javascript'; drop any page containing 'lorem ipsum' or '{', or
# retaining < 3 sentences.  The synthetic corpus is a flat word
# stream, so a line-structured page is synthesized deterministically
# first (the _variant_urls pattern): line j = words[6j..6j+5], with
# the terminal '.' withheld when (doc_id + j) % 4 == 0, and the
# page-kill triggers (lorem/brace) synthesized from doc_id — the
# corpus carries no hostile strings of its own.  Same construction in
# the oracle, so every rule is value-provable.
C4_LINE_WORDS = 6
C4_MIN_LINE_WORDS = 5
C4_MIN_SENTENCES = 3


def curate_c4_filters(spark, sf_dir):
    """(doc_id, n_lines, n_kept, kept_chars, has_lorem, has_brace,
    keep): per-page C4 filter outcome — line-level retention counts
    plus the page-level kill flags and the final keep bit.

    Scale shape: pure map over one scan — line synthesis, line
    filtering and the page rules are all codegen'd array/string
    expressions; zero shuffles, zero Python.  The words array is
    materialized once as a column; HOF lambdas reference it and only
    derive per-LINE scalars inside the lambda (gotcha #19 applies to
    derived ARRAYS indexed per element, not scalar work on the
    lambda variable)."""
    d = read_table(spark, sf_dir, "documents", wide=True)
    w = d.select(
        "doc_id", F.split(F.trim(F.col("text")), " ").alias("words")
    )
    n_lines = F.expr(f"(size(words) + {C4_LINE_WORDS - 1}) div {C4_LINE_WORDS}")
    lines = F.expr(
        f"transform(sequence(0, (size(words) + {C4_LINE_WORDS - 1})"
        f" div {C4_LINE_WORDS} - 1),"
        f" j -> array_join(slice(words, j * {C4_LINE_WORDS} + 1,"
        f" {C4_LINE_WORDS}), ' ') ||"
        f" CASE WHEN (doc_id + j) % 4 = 0 THEN '' ELSE '.' END)"
    )
    l = w.select("doc_id", n_lines.alias("n_lines"), lines.alias("lines"))
    kept = F.filter(
        "lines",
        lambda x: x.endswith(".")
        & (F.size(F.split(x, " ")) >= C4_MIN_LINE_WORDS)
        & ~x.contains("javascript"),
    )
    k = l.select(
        "doc_id", "n_lines",
        F.size(kept).alias("n_kept"),
        F.length(F.array_join(kept, "\n")).alias("kept_chars"),
        (F.col("doc_id") % 97 == 0).alias("has_lorem"),
        (F.col("doc_id") % 89 == 0).alias("has_brace"),
    )
    return k.withColumn(
        "keep",
        ~F.col("has_lorem") & ~F.col("has_brace")
        & (F.col("n_kept") >= C4_MIN_SENTENCES),
    )


SQL_C4 = f"""
WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS words
           FROM documents),
l AS (SELECT doc_id,
             (len(words) + {C4_LINE_WORDS - 1}) // {C4_LINE_WORDS} AS n_lines,
             list_transform(
               range(0, (len(words) + {C4_LINE_WORDS - 1}) // {C4_LINE_WORDS}),
               j -> array_to_string(
                      list_slice(words, j * {C4_LINE_WORDS} + 1,
                                 j * {C4_LINE_WORDS} + {C4_LINE_WORDS}), ' ')
                    || CASE WHEN (doc_id + j) % 4 = 0 THEN '' ELSE '.' END)
               AS lines
      FROM w),
k AS (SELECT doc_id, n_lines,
             list_filter(lines,
               x -> x LIKE '%.'
                    AND len(string_split(x, ' ')) >= {C4_MIN_LINE_WORDS}
                    AND NOT contains(x, 'javascript')) AS kept
      FROM l)
SELECT doc_id, n_lines, len(kept) AS n_kept,
       -- array_to_string([]) is NULL in DuckDB (Spark: ''), hence COALESCE
       COALESCE(length(array_to_string(kept, chr(10))), 0) AS kept_chars,
       doc_id % 97 = 0 AS has_lorem,
       doc_id % 89 = 0 AS has_brace,
       (NOT doc_id % 97 = 0) AND (NOT doc_id % 89 = 0)
         AND len(kept) >= {C4_MIN_SENTENCES} AS keep
FROM k
"""


# --- corpus length-distribution card ----------------------------------------
LEN_BUCKETS = 16   # power-of-two buckets: [0,2), [2,4), ... [2^15, inf)


def _len_bucket_case(col: str) -> str:
    """Integer log2 bucket as a CASE chain — identical text in both
    engines (no float log anywhere)."""
    parts = " ".join(
        f"WHEN {col} < {1 << (k + 1)} THEN {k}"
        for k in range(LEN_BUCKETS - 1)
    )
    return f"CASE {parts} ELSE {LEN_BUCKETS - 1} END"


def curate_length_dist(spark, sf_dir):
    """(bucket, lo, hi, n_docs, tok_mass, docs_ppm, cum_docs): the
    token-length distribution table every corpus card publishes
    (FineWeb/Dolma-style) — power-of-two buckets, document and token
    mass per bucket, fixed-point share, cumulative count.

    Scale shape: bucketing is a pure map (integer CASE, no log); the
    histogram is ONE combine-enabled agg into <= LEN_BUCKETS rows; the
    share and cumulative columns run on that bounded table with the
    corpus total cross-joined as a broadcast one-row table (the
    engine's bounded-window contract — no document-level window or
    sort).  Deterministic: integer arithmetic only."""
    from pyspark.sql import Window

    d = read_table(spark, sf_dir, "documents")
    t = d.select(word_count().alias("n_tokens")).select(
        F.expr(_len_bucket_case("n_tokens")).cast("long").alias("bucket"),
        "n_tokens",
    )
    b = t.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tok_mass"),
    )
    total = t.agg(F.count(F.lit(1)).alias("total_docs"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        b.crossJoin(F.broadcast(total))
        .select(
            "bucket",
            F.expr("CASE WHEN bucket = 0 THEN 0 ELSE"
                   " shiftleft(cast(1 as bigint), cast(bucket as int))"
                   " END").alias("lo"),
            F.expr("shiftleft(cast(1 as bigint), cast(bucket + 1 as int))"
                   " - 1").alias("hi"),
            "n_docs", "tok_mass",
            F.expr("(1000000 * n_docs) div total_docs").alias("docs_ppm"),
            F.sum("n_docs").over(w).cast("long").alias("cum_docs"),
        )
    )


SQL_LENGTH_DIST = f"""
WITH t AS (SELECT {_len_bucket_case("len(string_split(trim(text), ' '))")}
             AS bucket,
           len(string_split(trim(text), ' ')) AS n_tokens
           FROM documents),
b AS (SELECT bucket, COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS tok_mass
      FROM t GROUP BY bucket),
tot AS (SELECT COUNT(*) AS total_docs FROM t)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(CASE WHEN bucket = 0 THEN 0
                 ELSE CAST(1 AS BIGINT) << CAST(bucket AS INTEGER)
            END AS BIGINT) AS lo,
       (CAST(1 AS BIGINT) << CAST(bucket + 1 AS INTEGER)) - 1 AS hi,
       n_docs, tok_mass,
       (1000000 * n_docs) // total_docs AS docs_ppm,
       CAST(SUM(n_docs) OVER (ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_docs
FROM b CROSS JOIN tot
"""


QUERIES = {
    "curate_corpus": curate_corpus,
    "curate_sample_stratified": curate_sample_stratified,
    "curate_decontaminate": curate_decontaminate,
    "curate_quality_gate": curate_quality_gate,
    "curate_gate_report": curate_gate_report,
    "curate_token_budget": curate_token_budget,
    "curate_domain_mixture": curate_domain_mixture,
    "curate_pack_sequences": curate_pack_sequences,
    "curate_epoch_plan": curate_epoch_plan,
    "curate_dsir": curate_dsir,
    "curate_gopher_rules": curate_gopher_rules,
    "curate_c4_filters": curate_c4_filters,
    "curate_length_dist": curate_length_dist,
}
ORACLES = {
    "curate_corpus": SQL_CURATE,
    "curate_sample_stratified": SQL_SAMPLE,
    "curate_decontaminate": SQL_DECONTAM,
    "curate_quality_gate": SQL_QUALITY_GATE,
    "curate_gate_report": SQL_GATE_REPORT,
    "curate_token_budget": SQL_TOKEN_BUDGET,
    "curate_domain_mixture": SQL_MIXTURE,
    "curate_pack_sequences": SQL_PACK,
    "curate_epoch_plan": SQL_EPOCH_PLAN,
    "curate_dsir": SQL_DSIR,
    "curate_gopher_rules": SQL_GOPHER,
    "curate_c4_filters": SQL_C4,
    "curate_length_dist": SQL_LENGTH_DIST,
}
