"""Text-analysis operators over the `documents` table.

Training-data-pipeline operators: language ID (stopword heuristic),
quality scoring, token counting, and content fingerprinting — each a
pure column-expression pipeline (JVM-side, codegen'd) with a DuckDB
oracle computing the identical arithmetic.

All scores avoid transcendental functions (exp/log differ in the last
ulp across libm implementations); only +-*/ and comparisons are used,
so both engines produce bit-identical doubles before ROUND.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import two_stage_topk
from .tables import read_table

# stopword marker lists for the langid heuristic (checked as whole words)
LANG_MARKERS = {
    "en": ["the", "a", "of", "and"],
    "de": ["der", "die", "das", "und"],
    "fr": ["le", "la", "les", "et"],
    "es": ["el", "los", "las", "y"],
}
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
TOKEN_RE_SPARK = TOKEN_RE.replace("\\", "\\\\")  # Spark SQL literal escaping


# --- per-document features ---------------------------------------------------
# Each Spark-side feature over the `text` / `doc_id` columns is defined
# once here and shared by textstats, curation and dedup; a lint test
# (test_operators_oracle.py::test_text_features_defined_once) keeps it
# so.  The DuckDB oracles restate each formula on their own and never
# import these.


def _marker_hits(lang: str):
    # NOTE: Spark SQL string literals process backslash escapes, so the
    # regex needs doubled backslashes inside F.expr (DuckDB literals do
    # not — its oracle uses single ones).
    pat = r"\\b(" + "|".join(LANG_MARKERS[lang]) + r")\\b"
    return F.size(F.expr(f"regexp_extract_all(lower(text), '{pat}', 0)"))


def lang_guess():
    """Column: argmax over the `{lang}_hits` columns with a fixed
    precedence tie-break (en > de > fr > es; 'unknown' if no hits)."""
    best = F.greatest(*[F.col(f"{lg}_hits") for lg in LANG_MARKERS])
    return (
        F.when(best == 0, F.lit("unknown"))
        .when(F.col("en_hits") == best, F.lit("en"))
        .when(F.col("de_hits") == best, F.lit("de"))
        .when(F.col("fr_hits") == best, F.lit("fr"))
        .otherwise(F.lit("es"))
    )


def word_count():
    """Column: words of the trimmed `text`, split on single spaces."""
    return F.size(F.split(F.trim(F.col("text")), " "))


def alpha_count():
    """Column: ASCII letters in `text`."""
    return F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z]", ""))


def token_count():
    """Column: TOKEN_RE tokens in `text` (letters / digits / single
    punctuation)."""
    return F.size(F.expr(f"regexp_extract_all(text, '{TOKEN_RE_SPARK}', 0)"))


def quality_score(n_words, en_hits, n_alpha):
    """Column: unfloored quality score from length, English stopword
    rate and mean word length — rational arithmetic only, so both
    engines compute the same double.  Takes columns or expressions."""
    return (
        F.least(n_words / F.lit(100.0), F.lit(1.0)) * 0.4
        + F.least(en_hits / n_words * 5.0, F.lit(1.0)) * 0.4
        + F.least((n_alpha / n_words) / F.lit(8.0), F.lit(1.0)) * 0.2
    )


def text_hash():
    """Column: exact-dedup key, md5 of the lowercased trimmed `text`."""
    return F.md5(F.lower(F.trim(F.col("text"))))


def doc_fraction():
    """Column: a pure function of `doc_id` in [0, 1) — the first 32
    bits of md5(doc_id) — for deterministic sampling."""
    return (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") / F.lit(4294967296.0)
    )


def text_langid(spark, sf_dir):
    """N-gram/stopword language-ID heuristic: argmax of marker-word
    hits (lang_guess).  At 10^12 rows this is a pure map — no
    shuffle."""
    d = read_table(spark, sf_dir, "documents")
    hits = {lang: _marker_hits(lang).alias(f"{lang}_hits") for lang in LANG_MARKERS}
    scored = d.select("doc_id", *hits.values())
    return scored.select(
        "doc_id", lang_guess().alias("pred_lang"), "en_hits", "de_hits"
    )


def _sql_hits(lang: str) -> str:
    pat = r"\b(" + "|".join(LANG_MARKERS[lang]) + r")\b"
    return f"len(regexp_extract_all(lower(text), '{pat}'))"


SQL_LANGID = f"""
WITH s AS (SELECT doc_id,
                  {_sql_hits('en')} AS en_hits, {_sql_hits('de')} AS de_hits,
                  {_sql_hits('fr')} AS fr_hits, {_sql_hits('es')} AS es_hits
           FROM documents)
SELECT doc_id,
       CASE WHEN greatest(en_hits, de_hits, fr_hits, es_hits) = 0 THEN 'unknown'
            WHEN en_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'en'
            WHEN de_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'de'
            WHEN fr_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'fr'
            ELSE 'es' END AS pred_lang,
       en_hits, de_hits
FROM s
"""


def text_quality(spark, sf_dir):
    """Quality score from length / stopword ratio / mean word length —
    rational arithmetic only (cross-engine bit-identical)."""
    d = read_table(spark, sf_dir, "documents")
    n_words = word_count()
    score = quality_score(n_words, _marker_hits("en"), alpha_count())
    # floor instead of round: ROUND ties break HALF_UP in Spark but
    # half-even in DuckDB; floor of the bit-identical double is safe
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        (F.floor(score * 1_000_000) / 1_000_000).alias("quality_score"),
    )


SQL_QUALITY = f"""
WITH s AS (SELECT doc_id,
                  len(string_split(trim(text), ' ')) AS n_words,
                  length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
                  {_sql_hits('en')} AS stop_hits
           FROM documents)
SELECT doc_id, n_words,
       floor((least(n_words / 100.0, 1.0) * 0.4
              + least(stop_hits * 1.0 / n_words * 5.0, 1.0) * 0.4
              + least((n_alpha * 1.0 / n_words) / 8.0, 1.0) * 0.2) * 1000000) / 1000000
         AS quality_score
FROM s
"""


def text_tokens(spark, sf_dir):
    """Token counting: whitespace tokens + a BPE-ish regex tokenizer
    (letters / digits / single punctuation)."""
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens_ws"),
        token_count().alias("n_tokens_re"),
    )


SQL_TOKENS = f"""
SELECT doc_id,
       len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens_ws,
       len(regexp_extract_all(text, '{TOKEN_RE}')) AS n_tokens_re
FROM documents
"""


def text_fingerprint(spark, sf_dir):
    """Content fingerprint: md5 over the normalized token stream
    (lowercase, punctuation stripped, whitespace collapsed) — the
    canonical-form dedup key for a 10^12-row exact-dedup pass."""
    d = read_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9 ]", " "), r" +", " "
        )
    )
    return d.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        F.length(norm).alias("n_norm_chars"),
    )


SQL_FINGERPRINT = """
WITH n AS (SELECT doc_id,
                  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                      ' +', ' ', 'g')) AS norm
           FROM documents)
SELECT doc_id, md5(norm) AS fingerprint, length(norm) AS n_norm_chars FROM n
"""


# --- rolling-hash document fingerprint --------------------------------------
# polynomial rolling hash over the token stream (Rabin-Karp form):
#   h = fold(tokens, seed=7, (h, v) -> (h*131 + v + 1) mod 1_000_000_007)
#   v(tok) = (len*31 + first_codepoint)*31 + last_codepoint
# All arithmetic stays under 2^63 (h < 1e9+7, so h*131+v < 1.4e11) and
# is identical in Spark and DuckDB; empty tokens contribute v=1 via the
# +1 term (Spark ascii('') and the DuckDB CASE both yield 0).
ROLL_MOD = 1_000_000_007
ROLL_BASE = 131
ROLL_SEED = 7


def _roll_token_value(t):
    """Column: v(tok) of the rolling hash above, as a long."""
    return (
        (F.length(t) * 31 + F.ascii(t)) * 31 + F.ascii(F.substring(t, -1, 1))
    ).cast("long")


def text_rolling_fingerprint(spark, sf_dir):
    """Order-sensitive content fingerprint via a polynomial rolling
    hash — unlike the md5 canonical-form fingerprint, the fold
    structure extends to streaming/incremental use (append a token =
    one multiply-add).  Pure map at any scale."""
    d = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    h = F.aggregate(
        F.transform(toks, _roll_token_value),
        F.lit(ROLL_SEED).cast("long"),
        lambda acc, v: (acc * ROLL_BASE + v + 1) % ROLL_MOD,
    )
    return d.select(
        "doc_id",
        h.alias("rolling_fp"),
        F.size(toks).alias("n_tokens"),
    )


SQL_ROLLING_FP = f"""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST({ROLL_SEED} AS BIGINT),
           list_transform(string_split(text, ' '),
             t -> CAST((length(t) * 31
                        + CASE WHEN t = '' THEN 0 ELSE unicode(t) END) * 31
                       + CASE WHEN t = '' THEN 0
                              ELSE unicode(substr(t, length(t), 1)) END AS BIGINT))),
         (a, b) -> (a * {ROLL_BASE} + b + 1) % {ROLL_MOD}) AS rolling_fp,
       len(string_split(text, ' ')) AS n_tokens
FROM documents
"""


TOP_NGRAMS_K = 10


def text_top_ngrams(spark, sf_dir):
    """Top-K word trigrams per language — the corpus-profiling
    heavy-hitter query (boilerplate discovery, contamination screening).

    Scale shape: the (lang, shingle) count is ONE hash aggregation with
    map-side partial combine (only distinct (lang, shingle) partials
    cross the shuffle); per-lang top-K is similarity.two_stage_topk
    (keys ["lang"]), so the merge window per language is bounded at
    K·P rows and no single task ever sorts a language's whole n-gram
    distribution (a language IS a skewed key at crawl scale).
    Tie-break (count desc, trigram asc) is total -> deterministic."""
    from .dedup import _shingle_array

    d = read_table(spark, sf_dir, "documents")
    counts = (
        d.select("lang", F.explode(_shingle_array()).alias("trigram"))
        .groupBy("lang", "trigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return two_stage_topk(
        counts, ["lang"], [F.desc("n"), F.asc("trigram")], TOP_NGRAMS_K
    ).select("lang", "rank", "trigram", "n")


# same shingle construction as SQL_JACCARD's sh CTE, but NOT distinct
# per doc (frequency counting wants every occurrence) — mirrors
# _shingle_array + explode exactly: array_distinct applies WITHIN a doc
# in the Spark path, so DISTINCT per (doc, shingle) is mirrored here.
SQL_TOP_NGRAMS = f"""
WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, lang, u.trigram FROM toks,
    UNNEST(CASE WHEN len(t) >= 3
           THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                 FOR i IN range(1, len(t) - 1)]
           ELSE [array_to_string(t, ' ')] END) AS u(trigram)),
c AS (SELECT lang, trigram, COUNT(*) AS n FROM sh GROUP BY lang, trigram),
r AS (SELECT lang, trigram, n,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, trigram ASC) AS rank
      FROM c)
SELECT lang, rank, trigram, n FROM r WHERE rank <= {TOP_NGRAMS_K}
"""


# PII patterns — deliberately backslash-free (CLAUDE.md gotcha #2:
# Spark SQL literals eat backslashes inside F.expr; DuckDB literals do
# not — classes like [0-9] sidestep the divergence entirely) and
# linear-time (no nested quantifier backtracking, gotcha #4).
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]+"
PII_PHONE = "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"
PII_IPV4 = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"


def text_redact_pii(spark, sf_dir):
    """PII redaction — the compliance stage every crawl-derived training
    corpus runs before anything else sees the text.  Emails, phone
    numbers and IPv4s are counted, then replaced with typed placeholder
    tokens; the redacted text is fingerprinted.  Pure map (codegen'd
    JVM regex, no Python, no shuffle).  The fixture corpus contains no
    PII, so a contact blurb is synthesized per doc from doc_id with JVM
    expressions — the same construction in the DuckDB oracle, so the
    match/replace semantics are value-proven in SQL (the
    web_url_canonicalize pattern).  Order matters: IPs redact before
    phones (disjoint here), emails first so their dotted hosts are not
    half-eaten by the IP pattern."""
    d = read_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.substring(F.col("text"), 1, 60),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example or call 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"),
                     F.lit(".1")),
        ).otherwise(F.lit("")),
    )
    n = lambda pat: F.size(F.expr(f"regexp_extract_all(raw, '{pat}', 0)"))  # noqa: E731
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("raw"), PII_EMAIL, "<EMAIL>"),
            PII_IPV4, "<IP>"),
        PII_PHONE, "<PHONE>")
    return (
        d.select("doc_id", raw.alias("raw"))
        .select(
            "doc_id",
            n(PII_EMAIL).alias("n_emails"),
            n(PII_PHONE).alias("n_phones"),
            n(PII_IPV4).alias("n_ipv4"),
            red.alias("redacted"),
        )
        .select(
            "doc_id", "n_emails", "n_phones", "n_ipv4",
            F.md5("redacted").alias("redacted_fp"),
        )
    )


SQL_REDACT = f"""
WITH r AS (
  SELECT doc_id,
         substr(text, 1, 60) || ' contact user' || CAST(doc_id AS VARCHAR) ||
         '@mail' || CAST(doc_id % 7 AS VARCHAR) ||
         '.example or call 555-' ||
         lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
         CASE WHEN doc_id % 3 = 0
              THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
              ELSE '' END AS raw
  FROM documents)
SELECT doc_id,
       len(regexp_extract_all(raw, '{PII_EMAIL}')) AS n_emails,
       len(regexp_extract_all(raw, '{PII_PHONE}')) AS n_phones,
       len(regexp_extract_all(raw, '{PII_IPV4}')) AS n_ipv4,
       md5(regexp_replace(
             regexp_replace(
               regexp_replace(raw, '{PII_EMAIL}', '<EMAIL>', 'g'),
               '{PII_IPV4}', '<IP>', 'g'),
             '{PII_PHONE}', '<PHONE>', 'g')) AS redacted_fp
FROM r
"""


# --- repetition / degeneracy stats (Gopher-style quality rules) -------------
# Published repetition filters (Gopher / MassiveText, Rae et al. 2021;
# Dolma) drop documents whose n-gram mass is dominated by repeats.
# Token-granularity equivalents here, all pure column expressions.


def _word_ngrams(n: int):
    """Column: ALL n-word grams of `text` in order (duplicates kept —
    repetition counting needs every occurrence).  Docs shorter than n
    words contribute their whole text as one gram (mirrored in SQL).

    PERFORMANCE CONTRACT: built from slice + zip_with so every array
    is an ARGUMENT of the higher-order function (evaluated once per
    row).  A lambda that indexes the source via element_at(toks, i)
    re-evaluates the whole split(text) PER ELEMENT — Spark HOFs run on
    the interpreted eval path with no common-subexpression
    elimination, so that shape is O(n_words^2) string splits per row
    (measured ~75 ms/row; this shape is ~0.1 ms/row)."""
    toks = F.split(F.col("text"), " ")
    sz = F.size(toks)
    n_grams = F.greatest(sz - n + 1, F.lit(0))

    def shifted(k: int):
        return F.slice(toks, k + 1, n_grams)

    grams = shifted(0)
    for k in range(1, n):
        grams = F.zip_with(
            grams, shifted(k), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.when(sz >= n, grams).otherwise(F.array(F.col("text")))


def _dup_frac(arr):
    """Fraction of array elements that are repeat occurrences,
    floored at 1e-6 (ROUND ties differ across engines, gotcha #3)."""
    return F.floor(
        (F.size(arr) - F.size(F.array_distinct(arr)))
        / F.size(arr) * 1_000_000
    ) / 1_000_000


def _max_run():
    """Column: longest run of one token repeated consecutively in
    `text` — a single aggregate fold over the token array with a
    (prev, run, best) struct accumulator: O(n_words) per row, and the
    token array is the fold's ARGUMENT so split(text) evaluates once
    (see the _word_ngrams performance contract; an earlier
    boundary-index formulation re-evaluated the split per element and
    cost ~75 ms/row interpreted).  prev starts NULL so no token value
    can collide with the initial state (t == NULL is NULL -> run
    restarts at 1).  The DuckDB oracle computes the same quantity
    set-wise (run boundaries = positions i with t[i] != t[i-1]; max
    run = max gap between consecutive boundaries) — engines need only
    agree on values, not algorithms."""
    toks = F.split(F.col("text"), " ")

    def extend(acc, t):
        return F.coalesce(F.when(t == acc.prev, acc.run), F.lit(0)) + 1

    return F.aggregate(
        toks,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, t: F.struct(
            t.alias("prev"),
            extend(acc, t).alias("run"),
            F.greatest(acc.best, extend(acc, t)).alias("best"),
        ),
        lambda acc: acc.best,
    ).cast("int")


def text_repetition(spark, sf_dir):
    """Repetition/degeneracy stats per document — the Gopher-style
    quality gates a crawl corpus runs before training:

      dup_word_frac    fraction of word occurrences that are repeats
      dup_bigram_frac  fraction of word-bigram occurrences that repeat
      dup_trigram_frac same at trigram granularity
      max_run          longest run of one token repeated consecutively
                       ("spam spam spam" degeneracy)

    Pure map (JVM higher-order functions, no shuffle, no Python) — at
    10^12 rows this costs one scan."""
    d = read_table(spark, sf_dir, "documents", wide=True)
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_words"),
        _dup_frac(toks).alias("dup_word_frac"),
        _dup_frac(_word_ngrams(2)).alias("dup_bigram_frac"),
        _dup_frac(_word_ngrams(3)).alias("dup_trigram_frac"),
        _max_run().alias("max_run"),
    )


def _sql_ngrams(n: int) -> str:
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
    return (
        f"CASE WHEN len(t) >= {n} THEN [{gram} FOR i IN range(1, len(t) - {n} + 2)]"
        " ELSE [array_to_string(t, ' ')] END"
    )


SQL_REPETITION = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (SELECT doc_id, t,
             {_sql_ngrams(2)} AS b2,
             {_sql_ngrams(3)} AS b3,
             [i FOR i IN range(1, len(t) + 1)
                IF i = 1 OR t[i] != t[i-1]] || [len(t) + 1] AS bounds
      FROM toks)
SELECT doc_id,
       len(t) AS n_words,
       floor((len(t) - len(list_distinct(t))) * 1.0 / len(t) * 1000000)
         / 1000000 AS dup_word_frac,
       floor((len(b2) - len(list_distinct(b2))) * 1.0 / len(b2) * 1000000)
         / 1000000 AS dup_bigram_frac,
       floor((len(b3) - len(list_distinct(b3))) * 1.0 / len(b3) * 1000000)
         / 1000000 AS dup_trigram_frac,
       CAST(list_max(list_transform(range(1, len(bounds)),
                                    j -> bounds[j+1] - bounds[j])) AS INTEGER)
         AS max_run
FROM g
"""


# --- corpus-derived token rarity (LM-free perplexity proxy) -----------------
# Published crawl curation (CCNet, RedPajama) scores documents by a
# language-model perplexity; the LM-free analog is mean token SURPRISAL
# against the corpus' own unigram distribution.  Transcendental-free
# (project contract: no log/exp — libm last-ulp divergence): surprisal
# is quantized into integer RANK BANDS of the frequency-ranked
# vocabulary — band 0 = top-8 tokens, 1 = rank 9..64, 2 = 65..512,
# 3 = rank 513..VOCAB_TOP, OOV_BAND for everything rarer.  A high mean
# band = text made of rare/garbled tokens; a low band = stopword soup.
VOCAB_TOP = 4096                  # bounded broadcast vocabulary
RARITY_BANDS = (8, 64, 512)       # rank thresholds -> bands 0..3
OOV_BAND = len(RARITY_BANDS) + 1  # out-of-vocabulary band (= 4)


def rarity_scores(d: DataFrame) -> DataFrame:
    """Mean token-rarity band per document against the corpus' own
    frequency-ranked vocabulary (see module constants above).

    Scale shape: token counting is ONE hash aggregation with map-side
    combine (distinct tokens per partition cross the shuffle, not
    occurrences); the vocabulary is truncated to VOCAB_TOP by
    similarity.two_stage_topk (global; merge window bounded at
    VOCAB_TOP*P rows — no task ever sorts the full type/token
    distribution); the scoring join
    BROADCASTS the <= VOCAB_TOP-row vocabulary, so per-doc scoring is
    a map-side join + one (doc_id)-keyed agg whose map-side combine
    reduces each doc to a single partial before the shuffle.  Nothing
    here is proportional to corpus size except the two scans.
    Deterministic: rank ties break (count desc, token asc) — total
    order."""
    toks = d.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    band = sum(
        (F.col("rank") > t).cast("int") for t in RARITY_BANDS
    )
    vocab = two_stage_topk(
        counts, [], [F.desc("n"), F.asc("tok")], VOCAB_TOP
    ).select("tok", band.alias("band"))
    j = toks.join(F.broadcast(vocab), "tok", "left")
    b = F.coalesce(F.col("band"), F.lit(OOV_BAND))
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.col("band").isNull().cast("long")).alias("n_oov"),
        # sum(band) <= 4 * n_tokens: *1e6 stays far inside the exact
        # double range, so floor(mean*1e6) is bit-identical cross-engine
        (F.floor(F.sum(b) * 1000000.0 / F.count(F.lit(1))) / 1000000)
        .alias("rarity"),
    )


def text_rarity(spark, sf_dir):
    """Driver entry: rarity_scores over the documents table."""
    return rarity_scores(read_table(spark, sf_dir, "documents"))


_SQL_BAND = " + ".join(
    f"CASE WHEN rank > {t} THEN 1 ELSE 0 END" for t in RARITY_BANDS
)
SQL_RARITY = f"""
WITH toks AS (
  SELECT doc_id, u.tok
  FROM (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
       UNNEST(t) AS u(tok)),
c AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
v AS (SELECT tok, ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) AS rank FROM c),
vb AS (SELECT tok, {_SQL_BAND} AS band FROM v WHERE rank <= {VOCAB_TOP})
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN vb.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       FLOOR(SUM(COALESCE(vb.band, {OOV_BAND})) * 1000000.0 / COUNT(*))
         / 1000000 AS rarity
FROM toks t LEFT JOIN vb ON t.tok = vb.tok
GROUP BY t.doc_id
"""


# --- corpus-trained bigram LM likelihood (fixed point) ----------------------
# CCNet filters documents by KenLM perplexity of an LM trained on a
# trusted corpus.  The deterministic, oracle-able analog: train a
# bigram model on the corpus itself (top-LM_TOP bigrams by count, so
# the model broadcasts) and score each doc by its MEAN CONDITIONAL
# PROBABILITY p(w2|w1) = c(w1 w2)/c(w1 ·) in fixed point — integer
# floor-division only (transcendental-free project contract: a sum of
# per-position scaled probabilities replaces the sum of log-probs; it
# orders garbled vs natural text the same way and is bit-exact
# cross-engine).  Out-of-model bigrams contribute 0 — the model is a
# quality REFERENCE, not a full LM.  Prefixes with support below
# LM_MIN_PREFIX are PRUNED from the model (KenLM-style count
# pruning): a hapax prefix makes p(w2|w1) trivially 1.0, which would
# hand garbled-unique text a perfect score.
LM_TOP = 4096       # bounded broadcast bigram table
LM_MIN_PREFIX = 5   # minimum prefix occurrences to stay in the model
LM_SCALE = 1_000_000


def text_lm_score(spark, sf_dir):
    """(doc_id, n_bigrams, n_inlm, lm_score): mean fixed-point bigram
    conditional probability against the corpus' own top-LM_TOP bigram
    model; n_inlm counts positions the model covers.

    Scale shape: the bigram count is ONE hash agg with map-side
    combine; prefix totals are a second agg over the (distinct-bigram)
    count table, not the occurrence stream; the model is truncated by
    similarity.two_stage_topk (global; merge window bounded at
    LM_TOP*P rows) and the <=LM_TOP-row table BROADCASTS into the
    scoring join, so per-doc scoring is map-side + one doc_id-keyed
    agg on the job's own shard key.  Deterministic: ties break
    (count desc, gram asc)."""
    d = read_table(spark, sf_dir, "documents")
    # the gram stream feeds BOTH the model-count pass and the scoring
    # join: localCheckpoint (lazy) builds the _word_ngrams arrays once
    # instead of once per consumer (r7 — the line_dedup shared-build
    # pattern; spill-able store traded for a second full scan+ngram
    # pass).  text_ppl_buckets compounds the win: its three references
    # to this query share the one materialized gram RDD.
    grams = d.select(
        "doc_id", F.explode(_word_ngrams(2)).alias("gram")
    ).localCheckpoint(eager=False)
    c = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n"))
    w1 = F.split_part(F.col("gram"), F.lit(" "), F.lit(1)).alias("w1")
    pre = c.groupBy(w1).agg(F.sum("n").alias("np")).filter(
        F.col("np") >= LM_MIN_PREFIX
    )
    top = two_stage_topk(
        c, [], [F.desc("n"), F.asc("gram")], LM_TOP
    ).select("gram", "n", w1)
    tbl = pre.join(F.broadcast(top), "w1").select(
        "gram", F.expr(f"({LM_SCALE} * n) div np").alias("p")
    )
    j = grams.join(F.broadcast(tbl), "gram", "left")
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum(F.col("p").isNotNull().cast("long")).alias("n_inlm"),
        F.expr("sum(coalesce(p, 0)) div count(1)").alias("lm_score"),
    )


SQL_LM_SCORE = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (SELECT doc_id, u.gram
      FROM (SELECT doc_id, {_sql_ngrams(2)} AS b FROM toks), UNNEST(b) AS u(gram)),
c AS (SELECT gram, COUNT(*) AS n FROM g GROUP BY gram),
pre AS (SELECT split_part(gram, ' ', 1) AS w1, SUM(n) AS np FROM c
        GROUP BY 1 HAVING SUM(n) >= {LM_MIN_PREFIX}),
top AS (SELECT gram, n FROM c ORDER BY n DESC, gram ASC LIMIT {LM_TOP}),
tbl AS (SELECT gram, CAST(({LM_SCALE} * n) // np AS BIGINT) AS p
        FROM top JOIN pre ON split_part(top.gram, ' ', 1) = pre.w1)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(CASE WHEN tbl.gram IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS n_inlm,
       CAST(SUM(COALESCE(p, 0)) // COUNT(*) AS BIGINT) AS lm_score
FROM g LEFT JOIN tbl USING (gram)
GROUP BY doc_id
"""


# --- corpus distribution drift (continuous-crawl monitor) -------------------
# A production crawl pipeline watches each new batch's token
# distribution against the accumulated corpus: a language flip, a
# spam flood, or a parser regression all show up as distribution
# drift before any downstream model does.  Total-variation distance
# in fixed point (integer floor-division; order-independent sums ->
# bit-exact cross-engine), plus the top-DRIFT_TOP most-divergent
# tokens as the actionable diagnostic.
DRIFT_TOP = 20
DRIFT_BATCH_MOD = 10   # doc_id % 10 == 0 is "today's batch" (mirrors
#                        dedup.INCR_NEW_MOD — one corpus-wide batch rule)


def corpus_drift(spark, sf_dir):
    """Top-DRIFT_TOP drifted tokens between today's batch and the
    existing corpus: (tok, p_batch, p_corpus, drift, tvd) — p_* are
    scaled token frequencies (floor(1e6 * c / total)), drift their
    absolute difference, tvd the corpus-level total-variation distance
    (constant column: SUM(drift)/2 over the WHOLE vocabulary, not
    just the rows shown).

    Scale shape: one token-count agg with map-side combine producing
    per-side counts in the same pass (conditional sums — the corpus is
    scanned ONCE); totals are a one-row agg broadcast back; drift
    ranking is similarity.two_stage_topk (global; merge window bounded
    at DRIFT_TOP*P rows) so no task sorts the full vocabulary; tvd is
    an agg over the vocab-sized count table, not the occurrence
    stream."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        (F.col("doc_id") % DRIFT_BATCH_MOD == 0).alias("is_new"),
        F.explode(F.split(F.col("text"), " ")).alias("tok"),
    )
    c = toks.groupBy("tok").agg(
        F.sum(F.col("is_new").cast("long")).alias("cn"),
        F.sum((~F.col("is_new")).cast("long")).alias("co"),
    )
    # the count table feeds four consumers (totals, tvd, top-k local +
    # merge); without a checkpoint each branch re-scans the corpus —
    # localCheckpoint (lazy) bounds materialization at vocab size and
    # keeps the corpus scan at exactly one
    c = c.localCheckpoint(eager=False)
    tot = c.agg(F.sum("cn").alias("tn"), F.sum("co").alias("tc"))
    p = (
        c.crossJoin(F.broadcast(tot))
        .select(
            "tok",
            F.expr(f"({LM_SCALE} * cn) div greatest(tn, 1)").alias("p_batch"),
            F.expr(f"({LM_SCALE} * co) div greatest(tc, 1)").alias("p_corpus"),
        )
        .withColumn("drift", F.abs(F.col("p_batch") - F.col("p_corpus")))
    )
    tvd = p.agg(F.expr("sum(drift) div 2").cast("long").alias("tvd"))
    top = two_stage_topk(
        p, [], [F.desc("drift"), F.asc("tok")], DRIFT_TOP
    ).drop("rank")
    return top.crossJoin(F.broadcast(tvd)).select(
        "tok", "p_batch", "p_corpus", "drift", "tvd"
    )


SQL_DRIFT = f"""
WITH toks AS (SELECT doc_id % {DRIFT_BATCH_MOD} = 0 AS is_new, u.tok
              FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
                   UNNEST(t) AS u(tok)),
c AS (SELECT tok,
             SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS cn,
             SUM(CASE WHEN is_new THEN 0 ELSE 1 END) AS co
      FROM toks GROUP BY tok),
tot AS (SELECT SUM(cn) AS tn, SUM(co) AS tc FROM c),
p AS (SELECT tok,
             CAST(({LM_SCALE} * cn) // greatest(tn, 1) AS BIGINT) AS p_batch,
             CAST(({LM_SCALE} * co) // greatest(tc, 1) AS BIGINT) AS p_corpus
      FROM c, tot),
pd AS (SELECT tok, p_batch, p_corpus,
              abs(p_batch - p_corpus) AS drift FROM p),
tvd AS (SELECT CAST(SUM(drift) // 2 AS BIGINT) AS tvd FROM pd)
SELECT tok, p_batch, p_corpus, CAST(drift AS BIGINT) AS drift, tvd.tvd AS tvd
FROM pd, tvd
ORDER BY drift DESC, tok ASC
LIMIT {DRIFT_TOP}
"""


# --- perplexity-band bucketing (CCNet head/middle/tail) ---------------------
PPL_BINS = 1024   # histogram resolution; band edges are bin-granular


def text_ppl_buckets(spark, sf_dir):
    """(doc_id, lm_score, bin, band): CCNet-style corpus partitioning
    (Wenzek et al. 2020, 'CCNet: Extracting high quality monolingual
    datasets from web crawl data') — rank every document by language-
    model score and split the corpus into three equal-count bands:
    'head' (best-scored third, lowest perplexity), 'middle', 'tail'.
    Downstream pipelines train on head+middle or reweight by band.

    Scale shape — the histogram-quantile pattern, NOT a global sort:
    (1) per-doc scores come from text_lm_score (one agg); (2) scores
    quantize into <=PPL_BINS fixed-width integer bins via one pure-map
    expression; (3) the band rule is computed on the <=PPL_BINS-row
    (bin, cnt) table — its single-partition cumulative window is
    bounded by construction (the engine-wide bounded-window contract),
    with the corpus total cross-joined as a broadcast one-row table;
    (4) the <=PPL_BINS-row (bin, band) map BROADCASTS back onto docs.
    No document-level sort or document-level window anywhere, so the
    plan is identical at 10^11 docs.  Band boundaries are therefore
    bin-granular (docs inside one bin share a band; CCNet itself uses
    sampled percentiles — same tolerance).  Deterministic: integer
    bin/cum arithmetic only, no float compares (CLAUDE.md gotcha #23
    family)."""
    from pyspark.sql import Window

    s = text_lm_score(spark, sf_dir).select(
        "doc_id", "lm_score",
        F.expr(f"(lm_score * {PPL_BINS}) div {LM_SCALE + 1}").alias("bin"),
    )
    bins = s.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    total = s.agg(F.count(F.lit(1)).alias("n"))
    # cum_prev = docs in strictly HIGHER-score bins (better = head);
    # unpartitioned window is over the <=PPL_BINS-row bin table only
    wb = Window.orderBy(F.desc("bin")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    banded = (
        bins.crossJoin(F.broadcast(total))
        .withColumn("cum_prev", F.coalesce(F.sum("cnt").over(wb), F.lit(0)))
        .withColumn(
            "band",
            F.when(F.col("cum_prev") * 3 < F.col("n"), "head")
            .when(F.col("cum_prev") * 3 < 2 * F.col("n"), "middle")
            .otherwise("tail"),
        )
        .select("bin", "band")
    )
    return s.join(F.broadcast(banded), "bin").select(
        "doc_id", "lm_score", "bin", "band"
    )


SQL_PPL_BUCKETS = f"""
WITH lm AS ({SQL_LM_SCORE}),
s AS (SELECT doc_id, lm_score,
             (lm_score * {PPL_BINS}) // {LM_SCALE + 1} AS bin FROM lm),
bins AS (SELECT bin, COUNT(*) AS cnt FROM s GROUP BY bin),
t AS (SELECT COUNT(*) AS n FROM s),
banded AS (SELECT bin, n,
                  COALESCE(SUM(cnt) OVER (ORDER BY bin DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                           0) AS cum_prev
           FROM bins CROSS JOIN t)
SELECT s.doc_id, s.lm_score, s.bin,
       CASE WHEN cum_prev * 3 < n THEN 'head'
            WHEN cum_prev * 3 < 2 * n THEN 'middle'
            ELSE 'tail' END AS band
FROM s JOIN banded USING (bin)
"""


# --- BPE merge induction ----------------------------------------------------
BPE_TOP = 32   # merge candidates emitted (the first BPE iteration's menu)


def text_bpe_merges(spark, sf_dir):
    """(pair, n, rank): the first byte-pair-encoding iteration at
    corpus scale — adjacent character-pair frequencies, weighted by
    word frequency, top-BPE_TOP as merge candidates (Sennrich et al.
    2016, 'Neural Machine Translation of Rare Words with Subword
    Units').  Tokenizer induction is a corpus-scale aggregation
    problem before it is a modeling problem; this is the aggregation.

    Scale shape: the corpus collapses to the DISTINCT-WORD table
    first (one combine-enabled agg; Zipf-bounded — vocabulary grows
    ~sqrt of corpus), pairs explode over distinct words only with the
    count as weight (never over the token stream), and the top-K is
    similarity.two_stage_topk (global; merge window bounded at
    BPE_TOP*P rows).  The pair lambda indexes a plain COLUMN, not a
    derived array (gotcha #19).  Deterministic: ties break (n desc,
    pair asc)."""
    d = read_table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("w")
    ).filter(F.length("w") >= 2)
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    pairs = wc.select(
        "c",
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1),"
                   " i -> substring(w, i, 2))")
        ).alias("pair"),
    )
    pc = pairs.groupBy("pair").agg(F.sum("c").alias("n"))
    top = two_stage_topk(pc, [], [F.desc("n"), F.asc("pair")], BPE_TOP)
    return top.select("pair", "n", F.col("rank").cast("long").alias("rank"))


SQL_BPE_MERGES = f"""
WITH words AS (SELECT u.w
               FROM (SELECT string_split(trim(text), ' ') AS t
                     FROM documents), UNNEST(t) AS u(w)
               WHERE length(u.w) >= 2),
wc AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
pairs AS (SELECT c, u.pair
          FROM (SELECT c, list_transform(range(1, length(w)),
                                         i -> substr(w, i, 2)) AS ps
                FROM wc), UNNEST(ps) AS u(pair)),
pc AS (SELECT pair, CAST(SUM(c) AS BIGINT) AS n FROM pairs GROUP BY pair)
SELECT pair, n,
       CAST(ROW_NUMBER() OVER (ORDER BY n DESC, pair ASC) AS BIGINT) AS rank
FROM pc ORDER BY n DESC, pair ASC LIMIT {BPE_TOP}
"""


QUERIES = {
    "text_langid": text_langid,
    "text_quality": text_quality,
    "text_tokens": text_tokens,
    "text_fingerprint": text_fingerprint,
    "text_rolling_fingerprint": text_rolling_fingerprint,
    "text_top_ngrams": text_top_ngrams,
    "text_redact_pii": text_redact_pii,
    "text_repetition": text_repetition,
    "text_rarity": text_rarity,
    "text_lm_score": text_lm_score,
    "corpus_drift": corpus_drift,
    "text_ppl_buckets": text_ppl_buckets,
    "text_bpe_merges": text_bpe_merges,
}

ORACLES = {
    "text_langid": SQL_LANGID,
    "text_quality": SQL_QUALITY,
    "text_tokens": SQL_TOKENS,
    "text_fingerprint": SQL_FINGERPRINT,
    "text_rolling_fingerprint": SQL_ROLLING_FP,
    "text_top_ngrams": SQL_TOP_NGRAMS,
    "text_redact_pii": SQL_REDACT,
    "text_repetition": SQL_REPETITION,
    "text_rarity": SQL_RARITY,
    "text_lm_score": SQL_LM_SCORE,
    "corpus_drift": SQL_DRIFT,
    "text_ppl_buckets": SQL_PPL_BUCKETS,
    "text_bpe_merges": SQL_BPE_MERGES,
}
