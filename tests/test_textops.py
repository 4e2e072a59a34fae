"""Unit tests for the pure text operators (SURVEY §5.2 item 2)."""

from document_extraction_service_spark.extract import textops as X


class TestSentenceSplit:
    def test_basic(self):
        assert X.split_sentences("One two. Three four.") == ["One two.", "Three four."]

    def test_et_al_not_split(self):
        # reference W6 rule (text_models.py:673-690)
        s = "Results shown by Smith et al. Analysis follows."
        assert X.split_sentences(s) == [s]

    def test_et_al_in_citation(self):
        s = "Observed effect (Müller et al., 2021). Next sentence here."
        assert X.split_sentences(s) == [
            "Observed effect (Müller et al., 2021).",
            "Next sentence here.",
        ]

    def test_initials_not_split(self):
        s = "Written by A. Müller for the journal."
        assert X.split_sentences(s) == [s]

    def test_abbreviations(self):
        s = "See Fig. 3 for details. The value e.g. rises."
        out = X.split_sentences(s)
        assert out == ["See Fig. 3 for details.", "The value e.g. rises."]

    def test_empty(self):
        assert X.split_sentences("") == []
        assert X.split_sentences("   ") == []

    def test_fragment_merge(self):
        # previous sentence not ending in terminal punctuation merges
        s = "A value of 3.5 was seen. It rose."
        assert X.split_sentences(s) == ["A value of 3.5 was seen.", "It rose."]


class TestDehyphenate:
    def test_soft_hyphen_join(self):
        # reference W3 (internal_models.py:492-515): fuse iff lowercase follows
        assert X.dehyphenate("measure­ment") == "measurement"
        assert X.dehyphenate("measure­ ment") == "measurement"

    def test_soft_hyphen_before_upper_dropped(self):
        assert X.dehyphenate("A­B") == "AB"

    def test_no_hyphen(self):
        assert X.dehyphenate("plain text") == "plain text"


class TestCellType:
    # reference A9 classifier (text_detection.py:32-53)
    def test_num(self):
        assert X.cell_type("42.5") == "NUM"
        assert X.cell_type("1,234") == "NUM"
        assert X.cell_type("95 %") == "NUM"
        assert X.cell_type("-3.2") == "NUM"

    def test_word(self):
        assert X.cell_type("pressure") == "WORD"

    def test_unknown(self):
        assert X.cell_type("") == "UNKNOWN"
        assert X.cell_type("ab") == "UNKNOWN"
        assert X.cell_type("%") == "UNKNOWN"  # no digit


class TestFuzzyKey:
    def test_short(self):
        assert X.fuzzy_key("Hello, World!") == "helloworld"

    def test_long_takes_ends(self):
        s = "a" * 60 + "b" * 60
        k = X.fuzzy_key(s)
        assert k == "a" * 50 + "b" * 50

    def test_names(self):
        assert X.TABLE_NAME_RE.match("Table 3. Stuff").group(1) == "3"
        assert X.TABLE_NAME_RE.match("Tab. 12 more").group(1) == "12"
        assert X.FIGURE_NAME_RE.match("Figure 2. Caption").group(1) == "2"
        assert X.FIGURE_NAME_RE.match("Fig. 7 x").group(1) == "7"

    def test_doi(self):
        m = X.DOI_RE.findall("see doi:10.1234/abc.def-5 end")
        assert m == ["10.1234/abc.def-5"]


# --- boilerplate gate == plain pattern scan -----------------------------------

def _boiler_scan(text):
    return any(p.search(text) for p, _, _ in X.BOILER_PATTERNS)


BOILER_PROBES = [
    "We use COOKIES here", "Cookie", "ALL RIGHTS RESERVED", "Share On twitter",
    "LOG IN", "Login", "SIGN UP now", "Subscribe", "PRIVACY", "Terms of use",
    "IMPRINT", "© 2024 Foo", "(C) 2024 Foo", "(c) 20x4", "Mail: A.B+C@EXAMPLE.ORG",
    "user@host", "HTTPS://EXAMPLE.COM/X", "http://x y", "Please Cite this",
    "plain prose with no chrome words at all",
    # non-ASCII case folds re.I accepts: Kelvin sign, long s, dotted I
    "Coo\u212aie notice", "\u017fhare on", "Pr\u0130vacy", "\u017fign up",
    "\u017eure privacy", "L\u0130vre de \u017fu\u017fcribe",
    "ALL RIGHT\u017f RE\u017fERVED", "pl\u0117ase cite", "d\u00e4t\u00e4@b\u00fccher.de",
    "\u00a9 Verlag", "\u2163 share on", "\u0131mprint",
]


def test_is_boilerplate_equals_pattern_scan():
    """is_boilerplate's literal pre-gate may only skip scans that cannot
    match: it must agree with a plain scan of every pattern on every
    block of the fixture corpus (all families), on their upper-,
    swapped-case and case-folded variants, and on handmade probes."""
    from document_extraction_service_spark import fixtures as fx
    from document_extraction_service_spark.htmlparse import parse_html

    texts, families = list(BOILER_PROBES), set()
    for i in range(400):
        page = fx.gen_page(i)
        families.add(fx.family_of(i))
        texts.extend(b.text for b in parse_html(page["html"]).blocks if b.n_chars <= 300)
    assert families == set(fx.FAMILIES)
    hits = 0
    for t in texts:
        for v in (t, t.upper(), t.swapcase(), t.replace("s", "\u017f"),
                  t.replace("k", "\u212a"), t.replace("i", "\u0130")):
            want = _boiler_scan(v)
            assert X.is_boilerplate(v) == want, v
            hits += want
    assert hits > 100


# --- non-markup header detection (X6, reference text_api.py:285-356) --------

def _doc(html: bytes):
    from document_extraction_service_spark.extract.pipeline import extract_document
    return extract_document(html, "http://t/x", "en")["extraction"]


LONG = "This paragraph carries more than enough words to be classified as page content."


def test_bold_only_block_is_header():
    ext = _doc(
        f"<html><body><h1>T</h1><p><b>Introduction</b></p><p>{LONG}</p></body></html>".encode()
    )
    assert [c["header"] for c in ext["chapters"]] == ["Introduction"]


def test_keyword_block_is_header_without_markup():
    ext = _doc(
        f"<html><body><h1>T</h1><p>3. Conclusions</p><p>{LONG}</p></body></html>".encode()
    )
    assert [c["header"] for c in ext["chapters"]] == ["3. Conclusions"]


def test_numbered_after_period_is_header():
    ext = _doc(
        f"<html><body><h1>T</h1><p>{LONG}</p>"
        f"<p>2. Custom Named Part</p><p>{LONG} Two.</p></body></html>".encode()
    )
    assert "2. Custom Named Part" in [c["header"] for c in ext["chapters"]]


def test_numbered_list_items_are_not_headers():
    ext = _doc(
        f"<html><body><h1>T</h1><p>{LONG}</p>"
        f"<p>1. buy milk</p><p>2. buy eggs</p><p>{LONG}</p></body></html>".encode()
    )
    assert [c["header"] for c in ext["chapters"]] == [None]


def test_bold_sentence_ending_with_period_not_header():
    ext = _doc(
        f"<html><body><h1>T</h1><p><b>We won the match.</b></p><p>{LONG}</p></body></html>".encode()
    )
    assert [c["header"] for c in ext["chapters"]] == [None]


def test_linked_keyword_block_not_header():
    ext = _doc(
        f'<html><body><h1>T</h1><p><a href="/r">Results</a></p><p>{LONG}</p></body></html>'.encode()
    )
    assert [c["header"] for c in ext["chapters"]] == [None]


def test_common_header_normalization():
    from document_extraction_service_spark.extract import textops as X
    assert X.is_common_header("3.2 Results:")
    assert X.is_common_header("Conflicts of Interest")
    assert not X.is_common_header("in")          # no substring looseness
    assert not X.is_common_header("of")          # phrase split bug guard
    assert not X.is_common_header("x" * 3000)    # length gate


def test_abstract_anchor_paragraph_grows_description():
    ext = _doc(
        f"<html><body><h1>T</h1><p>Abstract. We present a deterministic engine "
        f"for large scale extraction.</p><p>{LONG}</p></body></html>".encode()
    )
    assert ext["metadata"]["description"].startswith("We present a deterministic")


def test_header_style_invariance():
    """The same document rendered with h2 / bold-only / bare-keyword
    headers must extract the same text and chapter structure."""
    # paragraphs must be genuinely distinct: O7 fuzzy dedup collapses
    # blocks whose first/last-50-char keys are >95% similar
    sections = [
        ("1. Introduction", LONG),
        ("2. Results", "The measured wear rate dropped by half when the coating was annealed twice."),
    ]
    variants = {
        "h2": "".join(f"<h2>{h}</h2><p>{p}</p>" for h, p in sections),
        "bold": "".join(f"<p><b>{h}</b></p><p>{p}</p>" for h, p in sections),
        "bare": "".join(f"<p>{h}</p><p>{p}</p>" for h, p in sections),
    }
    outs = {
        k: _doc(f"<html><body><h1>T</h1>{v}</body></html>".encode())
        for k, v in variants.items()
    }
    texts = {k: o["extracted_text"] for k, o in outs.items()}
    chapters = {k: [c["header"] for c in o["chapters"]] for k, o in outs.items()}
    assert texts["bold"] == texts["h2"] == texts["bare"]
    assert chapters["bold"] == chapters["h2"] == chapters["bare"] == [
        "1. Introduction", "2. Results"
    ]


def test_metadata_parity_fields():
    """journal/issn/subtitle/references harvested from on-page
    citation_* meta tags and <cite> elements (reference MetaData,
    datamodels.py:48-69)."""
    html = b"""<html><head><title>T</title>
    <meta name="citation_journal_title" content="J. of Testing">
    <meta name="citation_issn" content="1234-5678">
    <meta name="citation_subtitle" content="A Subtitle">
    <meta name="citation_reference" content="citation_title=Deep Blue;citation_doi=10.1000/xyz.1">
    </head><body><h1>T</h1>
    <p>Published under doi:10.5000/self.9 with enough words to stay content.</p>
    <h2>References</h2>
    <ul><li><cite>Red Sea Study. doi:10.2000/abc.2</cite></li>
    <li><cite>Uncited plain title</cite></li></ul>
    </body></html>"""
    m = _doc(html)["metadata"]
    assert m["journal"] == "J. of Testing"
    assert m["issn"] == "1234-5678"
    assert m["subtitle"] == "A Subtitle"
    assert m["doi"] == "10.5000/self.9"  # cite DOIs never shadow the page DOI
    refs = {(r["doi"], r["title"]) for r in m["references"]}
    assert ("10.1000/xyz.1", "Deep Blue") in refs
    assert ("10.2000/abc.2", "Red Sea Study") in refs
    assert (None, "Uncited plain title") in refs


def test_citation_doi_meta_wins():
    html = b"""<html><head><meta name="citation_doi" content="10.9999/meta.1">
    </head><body><h1>T</h1><p>Mentions doi:10.1/other.2 in passing with many words here.</p>
    </body></html>"""
    assert _doc(html)["metadata"]["doi"] == "10.9999/meta.1"


# --- O7 true fuzzy dedup (reference text_models.py:356-374) -----------------

def test_fuzzy_counter_variants_collapse():
    """'3 comments' vs '4 comments' boilerplate differs by one digit —
    ratio > 95 — and must dedup to the longest (here: first) variant."""
    row = "Read the discussion - {} comments below the fold line here"
    html = (
        f"<html><body><h1>T</h1><p>{LONG}</p>"
        f"<p>{row.format(3)}</p><p>{LONG} Two.</p>"
        f"<p>{row.format(4)}</p><p>{LONG} Three.</p></body></html>"
    ).encode()
    t = _doc(html)["extracted_text"]
    assert "3 comments" in t
    assert "4 comments" not in t


def test_fuzzy_distinct_content_survives():
    a = "The experiment used a pin-on-disc tribometer at constant load."
    b = "The simulation used a finite-element contact model at high load."
    html = f"<html><body><h1>T</h1><p>{a}</p><p>{b}</p></body></html>".encode()
    t = _doc(html)["extracted_text"]
    assert a in t and b in t


def test_lev_capped_and_fuzzy_close():
    from document_extraction_service_spark.extract import textops as X
    assert X.lev_capped("kitten", "sitting", 9) == 5   # 2 subs (cost 2) + 1 ins
    assert X.lev_capped("abc", "abc", 2) == 0
    assert X.lev_capped("abcdef", "zzzzzz", 2) == 3          # capped at k+1
    # numbered headers differ by ONE substituted digit: fuzz.ratio 92.3,
    # below the 95 confidence -> must NOT be fuzzy-close
    assert not X.fuzzy_close("1introduction", "4introduction")
    assert X.fuzzy_close("a" * 50 + "3comments", "a" * 50 + "4comments")
    assert not X.fuzzy_close("completely different", "unrelated text here")
    assert X.fuzzy_close("", "")


def test_fuzzy_budget_is_deterministic():
    """Adversarial page (thousands of distinct same-length keys) must
    stay fast and produce identical output across runs."""
    import random, time
    rnd = random.Random(7)
    blocks = "".join(
        f"<p>qq{rnd.randrange(10**8):08d}qq padded words here now</p>" for _ in range(2000)
    )
    html = f"<html><body>{blocks}</body></html>".encode()
    t0 = time.time()
    out1 = _doc(html)["extracted_text"]
    assert time.time() - t0 < 2
    assert out1 == _doc(html)["extracted_text"]


# --- _merge_fuzzy_groups pinned against the plain pairwise loop ------------

def _merge_fuzzy_groups_oracle(groups):
    """Reference copy of the plain pairwise fuzzy merge: every candidate
    pair in (i, j) scan order, a Counter L1 bound per pair, and the same
    comparison budget.  _merge_fuzzy_groups must match it exactly."""
    from collections import Counter

    keys = sorted((k for k in groups if k), key=lambda k: (len(k), k))
    if len(keys) < 2:
        return
    parent = {k: k for k in keys}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    cnts = [Counter(k) for k in keys]
    max_k = (4 * X.FUZZY_KEY_LEN - 1) // 20  # keys <= 2*FUZZY_KEY_LEN chars
    budget = X.FUZZY_MAX_COMPARISONS
    for i, a in enumerate(keys):
        if budget <= 0:
            break
        ca = cnts[i]
        la = len(a)
        for j in range(i + 1, len(keys)):
            b = keys[j]
            if len(b) - la > max_k:
                break
            kmax = (la + len(b) - 1) // 20
            if len(b) - la > kmax:
                continue
            cb = cnts[j]
            d_lb = sum(abs(cnt - cb.get(ch, 0)) for ch, cnt in ca.items())
            d_lb += sum(cnt for ch, cnt in cb.items() if ch not in ca)
            if d_lb > kmax:
                continue
            budget -= 1
            if X.fuzzy_close(a, b):
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[rb] = ra
            if budget <= 0:
                break
    for k in keys:
        r = find(k)
        if r != k:
            groups[r].extend(groups.pop(k))
    for idxs in groups.values():
        idxs.sort()


def _fuzzy_merged(texts):
    """Group block indices by fuzzy key, merge; return (engine, oracle)."""
    import copy

    from document_extraction_service_spark.extract.text import _merge_fuzzy_groups

    groups = {}
    for k, t in enumerate(texts):
        groups.setdefault(X.fuzzy_key(t), []).append(k)
    want = copy.deepcopy(groups)
    _merge_fuzzy_groups_oracle(want)
    _merge_fuzzy_groups(groups)
    return groups, want


def test_fuzzy_merge_counter_variants():
    row = "Posted by the editors on the front page with {} comments so far"
    got, want = _fuzzy_merged([row.format(3), "unrelated", row.format(4)])
    assert got == want
    assert sorted(got.values()) == [[0, 2], [1]]


def test_fuzzy_merge_numbered_headers_stay_apart():
    got, want = _fuzzy_merged(["1 Introduction", "4 Introduction"])
    assert got == want
    assert sorted(got.values()) == [[0], [1]]


def test_fuzzy_merge_non_ascii_keys():
    de = "Größenänderung der Einstellungen für alle Benutzer mit {} Kommentaren"
    cjk = "东京大学的研究人员今天发表了一篇关于深度学习模型压缩方法的新论文共有{}条评论"
    texts = [de.format(3), de.format(4), cjk.format(3), cjk.format(4),
             cjk.format(3).replace("东", "伜")]  # U+4E1C / U+4F1C: same low byte
    got, want = _fuzzy_merged(texts)
    assert got == want
    assert sorted(got.values()) == [[0, 1], [2, 3, 4]]


def test_fuzzy_merge_same_low_byte_keys_spend_no_budget():
    """Keys equal modulo 256 per code point pass the coarse bound but not
    the exact one: they must not spend the comparison budget, so a true
    near-duplicate pair scanned after them still merges."""
    # 60 keys, one 256-code-point block each, with the same low bytes:
    # 1,770 same-length pairs at coarse L1 0 and exact L1 96
    far = ["".join(chr(0x4E00 + 256 * r + c * 5) for c in range(48))
           for r in range(60)]
    near = "z" * 50 + "{}comments"
    got, want = _fuzzy_merged(far + [near.format(3), near.format(4)])
    assert got == want
    assert got[X.fuzzy_key(near.format(3))] == [60, 61]


def test_fuzzy_merge_budget_cuts_like_the_oracle():
    """An adversarial page with more than FUZZY_MAX_COMPARISONS pairs
    inside the bound (anagram keys: L1 0, edit distance far above kmax)
    must cut exactly the pairs the oracle cuts: a near-duplicate pair
    scanned right after them merges as the budget's last comparison and
    stays apart one comparison later."""
    import random

    rnd = random.Random(11)

    def anagrams(letters, n):
        out = []
        for _ in range(n):
            chars = list(letters)
            rnd.shuffle(chars)
            out.append("".join(chars))
        return out

    letters_a = "abcdefghijklmnopqrstuvwxy" * 2
    letters_b = "0123456789" * 5
    letters_c = "klmnopqrstuvwxyz" * 3 + "kl"
    near = "ÿ" * 48 + "{}x"  # same length, sorts after every anagram
    assert X.FUZZY_MAX_COMPARISONS == 1_000
    # 990 + 6 + 3 = 999 pairs first: the near pair is the 1,000th;
    # 990 + 10 = 1,000 pairs first: it is the 1,001st
    for n_b, n_c, merged in ((4, 3, True), (5, 0, False)):
        texts = (anagrams(letters_a, 45) + anagrams(letters_b, n_b)
                 + anagrams(letters_c, n_c))
        texts += [near.format(1), near.format(2)]
        got, want = _fuzzy_merged(texts)
        assert got == want
        assert (len(got[X.fuzzy_key(near.format(1))]) == 2) == merged


def test_text_fallback_on_null_html():
    from document_extraction_service_spark.extract.pipeline import extract_document
    r = extract_document(None, "http://x/n", "de", "Line one here.\n\n  Line   two.  ")
    assert r["status"]["ok"] and r["status"]["fallback"]
    assert r["extraction"]["extracted_text"] == "Line one here.\nLine two."
    assert r["extraction"]["metadata"]["lang"] == "de"
    # html present -> DOM pipeline, no fallback
    r2 = extract_document(b"<p>Real html body with enough words to be kept.</p>",
                          "http://x/h", "en", "ignored crawl text")
    assert not r2["status"]["fallback"]
    assert "Real html body" in r2["extraction"]["extracted_text"]
    # both empty -> ok, empty, not fallback
    r3 = extract_document(b"", "http://x/e", "en", "   ")
    assert r3["status"]["ok"] and not r3["status"]["fallback"]
    assert r3["extraction"]["extracted_text"] == ""
