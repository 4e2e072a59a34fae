"""Pure text operations shared by the extraction stages.

The numeric constants here are *semantics*, not tuning: they define
the output bytes (SURVEY §7.4 #2) and mirror the reference's pinned
thresholds where one exists.  Every constant cites its origin.
"""

from __future__ import annotations

import re

# --- boilerplate / classification constants --------------------------------
# link-density ceiling for a content block (north_star: "text-density +
# link-density heuristics"; generalizes reference F2 text-area classes,
# /root/reference/app/core/extraction_modul/apis/text_api.py:144-187)
LINK_DENSITY_MAX = 0.33
# minimum words for a block to stand alone as content (density floor)
MIN_CONTENT_WORDS = 5
# identical text appearing more than this many times in one document is
# a recurring element (reference O6: bbox repeated > 2 times,
# text_models.py:377-390)
RECURRING_MAX = 2
# fuzzy-dedup key length: first/last 50 chars of the \W-stripped text
# (reference O7: fuzz.ratio > 95 on first/last 50 chars,
# text_models.py:331-374; here the 95-similarity test is replaced by
# exact key equality, deterministic and O(n) instead of O(n^2))
FUZZY_KEY_LEN = 50
# a chapter below this many characters is dropped (deterministic stand-in
# for the reference's spaCy grammar filter F8, text_api.py:229-238)
MIN_CHAPTER_CHARS = 20
# a figure caption is valid with at most this many sentences after the
# "Figure N." prefix (reference F9, image_models.py:102-113)
MAX_CAPTION_SENTENCES = 2

# boilerplate text patterns (analog of the reference's metadata regex
# list F3, /root/reference/app/core/files/meta_data_pattern.json:1-12 —
# email / links / doi / "please cite" / http; extended with web chrome),
# each with literals one of which every match contains once an ASCII
# text is lowercased (on ASCII, lowercasing agrees with re.I exactly);
# literals without case ('@', '://', '©', '(') hold for any text.
BOILER_PATTERNS = [
    (re.compile(p, re.I), literals, all(lit.upper() == lit for lit in literals))
    for p, literals in (
        (r"\bcookies?\b", ("cookie",)),
        (r"all rights reserved", ("all rights reserved",)),
        (r"\bshare on\b", ("share on",)),
        (r"\blog ?in\b|\bsign ?up\b|\bsubscribe\b", ("log", "sign", "subscribe")),
        (r"\bprivacy\b|\bterms\b|\bimprint\b", ("privacy", "terms", "imprint")),
        (r"©|\(c\) \d{4}", ("©", "(")),
        (r"[\w.+-]{1,64}@[\w-]{1,63}\.[\w.]{2,63}", ("@",)),
        (r"^https?://\S+$", ("://",)),
        (r"please cite", ("please cite",)),
    )
]


def is_boilerplate(text: str) -> bool:
    """True iff any BOILER_PATTERNS pattern matches text.  A C-level
    substring test for the pattern's literals skips most regex scans:
    on the lowercased text when it is ASCII, else on the text itself
    for literals without case."""
    ascii_low = text.lower() if text.isascii() else None
    for pattern, literals, caseless in BOILER_PATTERNS:
        hay = ascii_low if ascii_low is not None else text if caseless else None
        if hay is not None:
            for lit in literals:
                if lit in hay:
                    break
            else:
                continue  # no literal: the pattern cannot match
        if pattern.search(text):
            return True
    return False


# a pattern-matching block is only dropped when short — long prose that
# merely mentions "privacy" is not chrome.  Both gates matter: the char
# gate keeps regex scans off megabyte single-"word" blocks (a 2 MB
# unbroken run is 1 word and would otherwise hit the patterns with
# quadratic backtracking).
BOILER_MAX_WORDS = 30
BOILER_MAX_CHARS = 2_000

# headers commonly found in the reference's domain (text_api.py:320-329).
# Phrases, not words: the reference's loose substring test ("in" ⊂
# "introduction" would promote any short block containing "in") is
# deliberately tightened to whole-phrase equality after normalization.
COMMON_HEADERS = frozenset(
    {
        "introduction", "conclusion", "conclusions", "references",
        "results", "discussion", "experiment", "experiments", "setup",
        "methods", "abstract", "funding", "acknowledgements",
        "conflicts of interest",
    }
)

# non-markup header detection gates (reference text_api.py:285-356):
# short_textBlock = < 8 words (text_api.py:313), min_size = > 3
# non-space chars (text_api.py:317)
HEADER_MAX_WORDS = 8
HEADER_MIN_CHARS = 3
# leading enumeration: "1.", "2.3", "4)" etc. (starts_with_number,
# text_api.py:301 — extended to strip the whole numbering token)
_HEADER_ENUM_RE = re.compile(r"^\d+[\d.)]*\s+")


def header_norm(text: str) -> str:
    """Normalize a candidate header: strip leading enumeration and
    trailing ':'/'.', lowercase."""
    t = _HEADER_ENUM_RE.sub("", text.strip())
    return t.rstrip(":. ").lower()


def is_common_header(text: str) -> bool:
    """Whole-phrase match against COMMON_HEADERS after normalization
    (reference _part_of_heuristic_names, text_api.py:320-329,
    tightened — see COMMON_HEADERS note)."""
    if len(text) > BOILER_MAX_CHARS:  # length-gate every regex path
        return False
    return header_norm(text) in COMMON_HEADERS

_NONWORD_RE = re.compile(r"[\W_]+", re.UNICODE)


def n_words(s: str) -> int:
    return len(s.split())


# bound the normalization window: stripping a megabyte block to take 50
# chars is O(len) waste; 10x the key length of raw text is enough to
# yield FUZZY_KEY_LEN stripped chars unless >90% punctuation (then the
# key degrades gracefully to a shorter prefix — still deterministic)
_FUZZY_WINDOW = 10 * FUZZY_KEY_LEN


def _strip_nonword(s: str) -> str:
    # dropping the spaces first (C-level) leaves the regex far fewer runs
    # to cut: block text is mostly words and single spaces
    return _NONWORD_RE.sub("", s.replace(" ", ""))


def fuzzy_key(s: str) -> str:
    """Normalized first/last FUZZY_KEY_LEN chars (reference O7 key)."""
    if len(s) <= 2 * _FUZZY_WINDOW:
        t = _strip_nonword(s).lower()
        if len(t) <= 2 * FUZZY_KEY_LEN:
            return t
        return t[:FUZZY_KEY_LEN] + t[-FUZZY_KEY_LEN:]
    head = _strip_nonword(s[:_FUZZY_WINDOW]).lower()
    tail = _strip_nonword(s[-_FUZZY_WINDOW:]).lower()
    return head[:FUZZY_KEY_LEN] + tail[-FUZZY_KEY_LEN:]


# --- O7 fuzzy similarity (reference X9 fuzz.ratio, text_models.py:360-364) --
# fuzz.ratio > 95 made deterministic: fuzz.ratio is
# 100*(lensum - d2)/lensum where d2 is the edit distance with
# SUBSTITUTION COST 2 (indels cost 1) — equivalently 100*2M/lensum for
# M matched chars.  The sub-cost-2 weighting matters: with plain
# Levenshtein, "1introduction"/"4introduction" (one substituted digit)
# would merge, but fuzz.ratio gives 92.3 — distinct numbered headers
# must survive.  Accept iff d2*20 < lensum.  Banded DP with early exit
# keeps each comparison O(k*len); a per-document comparison budget
# bounds adversarial pages (beyond it the dedup degrades to exact-key
# equality — deterministic, never O(n^2) blowup).
FUZZY_MAX_COMPARISONS = 1_000


def lev_capped(a: str, b: str, k: int) -> int:
    """Edit distance with substitution cost 2 (the fuzz.ratio metric),
    capped: returns k+1 as soon as the true distance exceeds k
    (banded DP, O(k*min(len)))."""
    la, lb = len(a), len(b)
    if la > lb:
        a, b, la, lb = b, a, lb, la
    if lb - la > k:
        return k + 1
    if a == b:
        return 0
    prev = list(range(lb + 1))
    big = k + 1
    for i in range(1, la + 1):
        cur = [big] * (lb + 1)
        cur[0] = i
        lo = max(1, i - k)
        hi = min(lb, i + k)
        best = big
        ai = a[i - 1]
        for j in range(lo, hi + 1):
            c = min(
                prev[j] + 1,
                cur[j - 1] + 1,
                prev[j - 1] + (0 if ai == b[j - 1] else 2),
            )
            cur[j] = c
            if c < best:
                best = c
        if best > k:
            return big
        prev = cur
    return min(prev[lb], big)


def fuzzy_close(a: str, b: str) -> bool:
    """True iff fuzz.ratio(a, b) > 95 (reference confidence,
    text_models.py:339)."""
    lensum = len(a) + len(b)
    if lensum == 0:
        return True
    kmax = (lensum - 1) // 20  # d2*20 < lensum
    if abs(len(a) - len(b)) > kmax:
        return False
    return lev_capped(a, b, kmax) <= kmax


# --- dehyphenation (reference W3, internal_models.py:492-515) --------------
# soft hyphen followed by optional space then a lowercase letter: the two
# word halves are fused; any remaining soft hyphens are dropped.
_SOFT_HYPH_JOIN = re.compile(r"­ ?(?=[a-zäöüßà-ÿ])")
_SOFT_HYPH_ANY = re.compile(r"­")


def dehyphenate(s: str) -> str:
    if "\xad" not in s:
        return s
    return _SOFT_HYPH_ANY.sub("", _SOFT_HYPH_JOIN.sub("", s))


# --- sentence splitting (reference X8: segtok split_single; vendored
# deterministic rules so fixture bytes cannot drift with a library
# version, SURVEY §7.4 #1) ---------------------------------------------------
# abbreviations that never end a sentence
_ABBREVS = frozenset(
    "et al e.g i.e fig figs tab vs cf dr prof no approx ca eq ref refs "
    "etc jr sr st".split()
)
# a run of [.!?] before a capitalized / numbered next word.  Spelled
# [.!?][.!?]* rather than [.!?]+ (same matches): a pattern that opens
# with a plain character class lets the regex engine skip ahead to the
# next candidate character in C.
_SPLIT_CAND = re.compile(r"[.!?][.!?]*(?=\s+[\"'(\[]?[A-Z0-9ÄÖÜ])")


def split_sentences(s: str) -> list[str]:
    """Deterministic sentence splitter + the reference's post-merge rule
    (W6, text_models.py:673-690): a fragment is merged into the previous
    sentence when the previous one does not end with '.', '!', '?' or
    ends with 'et al.'."""
    s = s.strip()
    if not s:
        return []
    # block text is whitespace-normalized upstream (single spaces), so
    # the token before a position starts after the last space before it
    rfind = s.rfind
    parts, lo = [], 0
    for m in _SPLIT_CAND.finditer(s):
        start = m.start()
        tok_lo = rfind(" ", 0, start) + 1
        bare = s[tok_lo:start].lower().rstrip(".").lstrip("([\"'")
        if bare in _ABBREVS:
            continue
        # single-letter initials: "A. Müller"
        if len(bare) == 1 and bare.isalpha():
            continue
        # "et al." — token is "al", previous token "et"
        if bare == "al":
            prev_end = tok_lo - 1
            prev = s[rfind(" ", 0, prev_end) + 1 : prev_end]
            if prev.lower().lstrip("([\"'") == "et":
                continue
        cut = m.end()
        part = s[lo:cut].strip()
        if part:
            parts.append(part)
        lo = cut
    tail = s[lo:].strip()
    if tail:
        parts.append(tail)
    # W6 merge pass
    merged: list[str] = []
    for p in parts:
        if merged and (merged[-1].endswith("et al.") or merged[-1][-1] not in ".!?"):
            merged[-1] = merged[-1] + " " + p
        else:
            merged.append(p)
    return merged


# --- cell word-type classification (reference A9: spaCy POS -> WORD/NUM/
# UNKNOWN, text_detection.py:32-53; replaced by a deterministic regex
# classifier per SURVEY §2.4) -------------------------------------------------
_NUM_RE = re.compile(r"[\d.,%±\-–+e\s]+\Z")
_HAS_DIGIT = re.compile(r"\d")


def cell_type(s: str) -> str:
    t = s.strip()
    if not t:
        return "UNKNOWN"
    if _HAS_DIGIT.search(t) and _NUM_RE.match(t):
        return "NUM"
    if len(t) < 3:
        return "UNKNOWN"
    return "WORD"


# --- name regexes -----------------------------------------------------------
# table name (reference X2, table_models.py:52-59)
TABLE_NAME_RE = re.compile(r"^\s*tab(?:le|\.)\s*(\d+)", re.I)
# figure name (reference X3, image_models.py:60-66)
FIGURE_NAME_RE = re.compile(r"^\s*fig(?:ure|\.)\s*(\d+)\.?\s*", re.I)
# DOI (reference X1, metadata_api.py:187-210)
DOI_RE = re.compile(r"10\.\d{4,9}/[-._;()/:\w]+")
# table/figure description detectors (reference F4/F5)
TABLE_DESC_PREFIX = "tab"
