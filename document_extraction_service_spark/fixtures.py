"""Deterministic synthetic `pages` corpus (FIXTURES.md §1-2).

Every page is a pure function of ``(seed, i)`` — no wall clock, no
global RNG state — so the same row is byte-identical whether it is
generated on the driver (pyarrow path, used by no-Spark unit tests)
or on executors (``mapInArrow`` path, used by jobs and benches).
This mirrors the reference's golden-fixture strategy
(/root/reference/app/tests/testfiles/: pinned input docs + expected
structured extraction) with the corpus synthesized instead of shipped.

Families and shares (FIXTURES.md §2):
    article 40% | boilerplate 20% | tabular 15% | figure 10%
    | metadata 10% | edge 3% | adversarial 3%
"""

from __future__ import annotations

import datetime as _dt
import random
from typing import Iterator

SEED = 42

# Zipf-like host list: host 0 owns ~40% of rows (FIXTURES.md §1) —
# exercises skewed-host salting in host-keyed aggregations.
HOSTS = ["news.alpha-press.example"] + [
    f"site{k:02d}.example.{tld}"
    for k, tld in zip(range(1, 50), (["com", "org", "net", "io", "de"] * 10))
]

FAMILIES = ("article", "boilerplate", "tabular", "figure", "metadata",
            "edge", "adversarial")
_FAMILY_CUM = ((0.40, "article"), (0.60, "boilerplate"), (0.75, "tabular"),
               (0.85, "figure"), (0.95, "metadata"), (0.98, "edge"),
               (1.01, "adversarial"))

_EPOCH = _dt.datetime(2025, 1, 1, 0, 0, 0)

# Fixed word banks (deterministic lorem).  English bank biased toward
# the reference's scientific-paper domain.
_EN_WORDS = (
    "the of surface coating measurement results analysis friction model "
    "sample layer energy storage method temperature pressure material "
    "nanosheets tribology wear experiment values observed increase "
    "decrease structure process data figure approach system study "
    "significant effect behaviour properties response phase region "
    "interface particles load velocity coefficient thickness oxide"
).split()
_DE_WORDS = (
    "die der und das eine Messung Ergebnisse Analyse Reibung Modell "
    "Probe Schicht Energie Methode Temperatur Druck Material Verfahren "
    "Struktur Prozess Daten Abbildung Ansatz System Studie Wirkung "
    "Eigenschaften Verhalten Bereich Oberfläche nicht wird wurde mit"
).split()
_AUTHORS = (
    "A. Müller", "J. Smith", "L. Zhang", "P. Kowalski", "R. Dorsch",
    "K. Tanaka", "M. García", "S. Novak", "T. O'Brien", "H. Weber",
)
# Header keywords mirrored from the reference's common-header list
# (/root/reference/app/core/extraction_modul/apis/text_api.py:320-329).
_SECTION_NAMES = (
    "Introduction", "Methods", "Experiment", "Setup", "Results",
    "Discussion", "Conclusion", "References", "Funding",
)
_CITE_NAMES = ("Müller", "Smith", "Zhang", "Kowalski", "Tanaka", "Weber")


def _rng(i: int, seed: int = SEED) -> random.Random:
    return random.Random((seed << 34) ^ (i * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFFFF))


def _words(rng: random.Random, bank, n: int) -> list[str]:
    return [bank[rng.randrange(len(bank))] for _ in range(n)]


def _sentence(rng: random.Random, bank, cite: bool = False) -> str:
    ws = _words(rng, bank, rng.randint(7, 14))
    s = " ".join(ws)
    s = s[0].upper() + s[1:]
    if cite:
        s += f" ({_CITE_NAMES[rng.randrange(len(_CITE_NAMES))]} et al., {rng.randint(2015, 2024)})"
    return s + "."


def _paragraph(rng: random.Random, bank, n_sent: int | None = None,
               soft_hyphen: bool = False) -> str:
    n = n_sent if n_sent is not None else rng.randint(2, 5)
    sents = [_sentence(rng, bank, cite=(rng.random() < 0.2)) for _ in range(n)]
    text = " ".join(sents)
    if soft_hyphen:
        # soft-hyphenate one long word (exercises dehyphenation, SURVEY W3)
        toks = text.split(" ")
        longs = [k for k, t in enumerate(toks) if len(t) >= 9 and t.isalpha()]
        if longs:
            k = longs[rng.randrange(len(longs))]
            t = toks[k]
            toks[k] = t[: len(t) // 2] + "­" + t[len(t) // 2:]
            text = " ".join(toks)
    return text


def _title(rng: random.Random, bank) -> str:
    return " ".join(_words(rng, bank, rng.randint(4, 8))).title()


def _nav_block(host: str) -> str:
    # identical across pages of the same host (template boilerplate;
    # analog of the reference's recurring-element dedup, SURVEY O6/O7)
    items = "".join(
        f'<a href="https://{host}/{p}">{p.title()}</a> | '
        for p in ("home", "topics", "archive", "about", "contact")
    )
    return f'<nav class="site-nav">{items}<a href="https://{host}/login">Log in</a></nav>'


def _footer_block(host: str) -> str:
    return (
        '<footer class="site-footer"><p>© 2025 ' + host +
        ' — All rights reserved. <a href="/privacy">Privacy</a> '
        '<a href="/terms">Terms</a> <a href="/imprint">Imprint</a></p></footer>'
    )


def _cookie_banner() -> str:
    return (
        '<div class="cookie-banner"><p>We use cookies to improve your '
        'experience. <a href="/cookies">Learn more</a> '
        '<a href="#accept">Accept</a> <a href="#reject">Reject</a></p></div>'
    )


def _share_bar() -> str:
    return (
        '<div class="share"><a href="#tw">Share on Twitter</a> '
        '<a href="#fb">Share on Facebook</a> <a href="#li">Share on LinkedIn</a> '
        '<a href="#mail">Email</a></div>'
    )


def _sidebar(rng: random.Random, host: str) -> str:
    links = "".join(
        f'<li><a href="https://{host}/rel-{k}">Related story {k}</a></li>'
        for k in range(1, 7)
    )
    return f'<aside class="sidebar"><h3>Related</h3><ul>{links}</ul></aside>'


def _article_body(rng: random.Random, bank, n_sections: int) -> tuple[str, str]:
    """Returns (html_sections, crawl_text_approx).

    Header markup varies per document: <h2> (the markup path), a
    bold-only paragraph, or a bare numbered/keyword paragraph — the
    latter two exercise non-markup header detection (SURVEY X6,
    reference text_api.py:285-356).  Extraction must produce the same
    chapter structure regardless of style."""
    parts, crawl = [], []
    numbered = rng.random() < 0.6
    style_roll = rng.random()
    style = "h2" if style_roll < 0.6 else ("bold" if style_roll < 0.85 else "bare")
    for s in range(n_sections):
        name = _SECTION_NAMES[rng.randrange(len(_SECTION_NAMES) - 2)]  # skip refs/funding mostly
        header = f"{s + 1}. {name}" if numbered else name
        if style == "h2":
            parts.append(f"<h2>{header}</h2>")
        elif style == "bold":
            parts.append(f"<p><b>{header}</b></p>")
        else:
            parts.append(f"<p>{header}</p>")
        crawl.append(header)
        for _ in range(rng.randint(1, 3)):
            p = _paragraph(rng, bank, soft_hyphen=(rng.random() < 0.3))
            parts.append(f"<p>{p}</p>")
            crawl.append(p.replace("­", ""))
    return "".join(parts), " ".join(crawl)


def _page_article(rng: random.Random, host: str, lang: str) -> tuple[str, str, str]:
    bank = _DE_WORDS if lang == "de" else _EN_WORDS
    title = _title(rng, bank)
    body, crawl = _article_body(rng, bank, rng.randint(2, 6))
    html = (
        f'<!DOCTYPE html><html lang="{lang or "en"}"><head><meta charset="utf-8">'
        f"<title>{title}</title></head><body>"
        f"{_nav_block(host)}<main><h1>{title}</h1>{body}</main>"
        f"{_footer_block(host)}</body></html>"
    )
    return html, f"{title} {crawl}", title


def _page_boilerplate(rng: random.Random, host: str, lang: str) -> tuple[str, str, str]:
    bank = _DE_WORDS if lang == "de" else _EN_WORDS
    title = _title(rng, bank)
    body, crawl = _article_body(rng, bank, rng.randint(1, 3))
    html = (
        f'<!DOCTYPE html><html lang="{lang or "en"}"><head><meta charset="utf-8">'
        f"<title>{title}</title></head><body>"
        f"{_cookie_banner()}{_nav_block(host)}{_nav_block(host)}"
        f'<div class="wrap">{_sidebar(rng, host)}<main>{_share_bar()}'
        f"<h1>{title}</h1>{body}{_share_bar()}</main>{_sidebar(rng, host)}</div>"
        f"{_footer_block(host)}{_footer_block(host)}</body></html>"
    )
    return html, f"{title} {crawl}", title


def _table_html(rng: random.Random, bank, t_idx: int) -> str:
    n_cols = rng.randint(3, 5)
    n_rows = rng.randint(3, 6)
    header_row = rng.random() < 0.7  # else header column
    cap_desc = " ".join(_words(rng, bank, rng.randint(4, 8)))
    rows = []
    if header_row:
        cells = "".join(f"<th>{bank[rng.randrange(len(bank))]}</th>" for _ in range(n_cols))
        rows.append(f"<tr>{cells}</tr>")
    for r in range(n_rows):
        cells = []
        c = 0
        while c < n_cols:
            span = 2 if (rng.random() < 0.12 and c + 1 < n_cols) else 1
            if not header_row and c == 0:
                cells.append(f"<th>{bank[rng.randrange(len(bank))]}</th>")
            elif rng.random() < 0.55:
                cells.append(f'<td colspan="{span}">{round(rng.uniform(0.1, 99.9), 2)}</td>'
                             if span > 1 else f"<td>{round(rng.uniform(0.1, 99.9), 2)}</td>")
            else:
                w = " ".join(_words(rng, bank, rng.randint(1, 2)))
                cells.append(f'<td colspan="{span}">{w}</td>' if span > 1 else f"<td>{w}</td>")
            c += span
        rows.append(f"<tr>{''.join(cells)}</tr>")
    return (
        f"<table><caption>Table {t_idx}. {cap_desc}.</caption>"
        f"{''.join(rows)}</table>"
    )


def _decoy_nav_table(host: str) -> str:
    # single-column table of nav links: must be rejected by the avg
    # cells/row >= 2 validator (reference table_models.py:793-800)
    rows = "".join(
        f'<tr><td><a href="https://{host}/s{k}">Section {k}</a></td></tr>' for k in range(1, 6)
    )
    return f"<table class='nav'>{rows}</table>"


def _page_tabular(rng: random.Random, host: str, lang: str) -> tuple[str, str, str]:
    bank = _DE_WORDS if lang == "de" else _EN_WORDS
    title = _title(rng, bank)
    n_tables = rng.randint(1, 3)
    parts = [f"<h1>{title}</h1>"]
    crawl = [title]
    for t in range(1, n_tables + 1):
        p = _paragraph(rng, bank)
        parts.append(f"<p>{p}</p>")
        crawl.append(p)
        parts.append(_table_html(rng, bank, t))
    parts.append(_decoy_nav_table(host))
    tail = _paragraph(rng, bank)
    parts.append(f"<p>{tail}</p>")
    crawl.append(tail)
    html = (
        f'<!DOCTYPE html><html lang="{lang or "en"}"><head><meta charset="utf-8">'
        f"<title>{title}</title></head><body>{_nav_block(host)}"
        f"<main>{''.join(parts)}</main>{_footer_block(host)}</body></html>"
    )
    return html, " ".join(crawl), title


def _page_figure(rng: random.Random, host: str, lang: str) -> tuple[str, str, str]:
    bank = _DE_WORDS if lang == "de" else _EN_WORDS
    title = _title(rng, bank)
    parts = [f"<h1>{title}</h1>"]
    crawl = [title]
    n_figs = rng.randint(1, 3)
    for f_idx in range(1, n_figs + 1):
        p = _paragraph(rng, bank)
        parts.append(f"<p>{p}</p>")
        crawl.append(p)
        # every 3rd figure gets a too-long caption (>2 sentences) and must
        # be rejected (reference image_models.py:102-113)
        n_cap = 4 if f_idx % 3 == 0 else rng.randint(1, 2)
        cap = f"Figure {f_idx}. " + " ".join(_sentence(rng, bank) for _ in range(n_cap))
        if f_idx % 2 == 0:
            # non-markup association (very common on the real web): bare
            # <img> followed by a "Figure N." paragraph, no <figure> —
            # must be bound by adjacency (reference image_api.py:88-101)
            parts.append(
                f'<img src="https://{host}/img/{f_idx:03d}.png"><p>{cap}</p>'
            )
            crawl.append(cap)  # the caption paragraph is body text too
        else:
            parts.append(
                f'<figure><img src="https://{host}/img/{f_idx:03d}.png">'
                f"<figcaption>{cap}</figcaption></figure>"
            )
    parts.append(f'<img src="https://{host}/img/inline.png" alt="">')
    tail = _paragraph(rng, bank)
    parts.append(f"<p>{tail}</p>")
    crawl.append(tail)
    html = (
        f'<!DOCTYPE html><html lang="{lang or "en"}"><head><meta charset="utf-8">'
        f"<title>{title}</title></head><body>{_nav_block(host)}"
        f"<main>{''.join(parts)}</main>{_footer_block(host)}</body></html>"
    )
    return html, " ".join(crawl), title


def _page_metadata(rng: random.Random, host: str, lang: str) -> tuple[str, str, str]:
    bank = _DE_WORDS if lang == "de" else _EN_WORDS
    title = _title(rng, bank)
    n_auth = rng.randint(1, 3)
    authors = [_AUTHORS[rng.randrange(len(_AUTHORS))] for _ in range(n_auth)]
    doi = f"10.{rng.randint(1000, 99999)}/desx.{rng.randint(100000, 999999)}"
    abstract = _paragraph(rng, bank, n_sent=3)
    body, crawl = _article_body(rng, bank, rng.randint(1, 3))
    # both on-page author conventions, deterministically alternated:
    # plain 'First Last' author metas and Highwire 'Last, First'
    # citation_author metas (Author-split parity, datamodels.py:66-68)
    def _author_meta(a: str, j: int) -> str:
        if j % 2:
            first, _, last = a.rpartition(" ")
            return f'<meta name="citation_author" content="{last}, {first}">'
        return f'<meta name="author" content="{a}">'

    metas = "".join(_author_meta(a, j) for j, a in enumerate(authors))
    # abstract markup varies: h2 heading, bold-only pseudo-heading, or
    # an inline "Abstract. …" anchor paragraph (W7 anchor-block grow,
    # reference metadata_api.py:96-145); half the pages drop the
    # description meta tag so the W7 fallback actually fires
    abs_roll = rng.random()
    if abs_roll < 0.5:
        abs_html = f"<h2>Abstract</h2><p>{abstract}</p>"
    elif abs_roll < 0.75:
        abs_html = f"<p><b>Abstract</b></p><p>{abstract}</p>"
    else:
        abs_html = f"<p>Abstract. {abstract}</p>"
    desc_meta = (
        f'<meta name="description" content="{abstract[:120]}">'
        if rng.random() < 0.5 else ""
    )
    # citation_* meta tags + <cite> references (metadata parity with
    # the reference MetaData model, datamodels.py:48-69)
    journal = f"{host.split('.')[0].title()} Journal of Tribology"
    issn = f"{rng.randint(1000, 9999)}-{rng.randint(1000, 9999)}"
    cite_metas = (
        f'<meta name="citation_journal_title" content="{journal}">'
        f'<meta name="citation_issn" content="{issn}">'
    )
    refs_html = ""
    if rng.random() < 0.6:
        n_refs = rng.randint(1, 3)
        ref_items = []
        for _ in range(n_refs):
            rt = _title(rng, bank)
            rdoi = f"10.{rng.randint(1000, 99999)}/ref.{rng.randint(100000, 999999)}"
            if rng.random() < 0.5:
                # 1-2 structured ref authors, derived WITHOUT extra rng
                # draws (keeps the stream stable for following pages)
                ref_auths = ";".join(
                    "citation_author={1}, {0}".format(
                        *_AUTHORS[(len(rt) + k) % len(_AUTHORS)].rsplit(" ", 1)
                    )
                    for k in range(1 + len(rt) % 2)
                )
                cite_metas += (
                    f'<meta name="citation_reference" '
                    f'content="citation_title={rt};{ref_auths};citation_doi={rdoi}">'
                )
            else:
                ref_items.append(f"<li><cite>{rt}. doi:{rdoi}</cite></li>")
        if ref_items:
            refs_html = f"<h2>References</h2><ul>{''.join(ref_items)}</ul>"
    html = (
        f'<!DOCTYPE html><html lang="{lang or "en"}"><head><meta charset="utf-8">'
        f"<title>{title}</title>{metas}"
        f'<meta property="og:title" content="{title}">'
        f'<meta property="og:site_name" content="{host.split(".")[0].title()} Press">'
        f"{desc_meta}{cite_metas}"
        f"</head><body>{_nav_block(host)}<main><h1>{title}</h1>"
        f"{abs_html}"
        f"<p>Published under doi:{doi} by the journal consortium.</p>"
        f"{body}{refs_html}</main>{_footer_block(host)}</body></html>"
    )
    return html, f"{title} {abstract} {crawl}", title


def _page_edge(rng: random.Random, host: str, lang: str, i: int) -> tuple[str, str, str]:
    bank = _EN_WORDS
    kind = i % 6
    title = _title(rng, bank)
    if kind == 0:  # empty body
        return f"<html><head><title>{title}</title></head><body></body></html>", "", title
    if kind == 1:  # whitespace-only html
        return "   \n\t  \n ", "", ""
    if kind == 2:  # single giant paragraph (~1MB)
        giant = " ".join(_sentence(rng, bank) for _ in range(12000))
        return (
            f"<html><body><h1>{title}</h1><p>{giant}</p></body></html>",
            giant[:2000],
            title,
        )
    if kind == 3:  # deeply nested divs
        depth = 120
        body = "<div>" * depth + f"<p>{_paragraph(rng, bank)}</p>" + "</div>" * depth
        return f"<html><body><h1>{title}</h1>{body}</body></html>", title, title
    if kind == 4:  # duplicate identical block > 2 times -> must dedup (O6)
        dup = _sentence(rng, bank)
        uniq = _paragraph(rng, bank)
        body = f"<p>{uniq}</p>" + f"<p>{dup}</p>" * 4
        return f"<html><body><h1>{title}</h1>{body}</body></html>", uniq, title
    # kind == 5: handled by caller (non-UTF8 bytes injected post-encode)
    p = _paragraph(rng, bank)
    return f"<html><body><h1>{title}</h1><p>{p}</p></body></html>", p, title


def _page_adversarial(rng: random.Random, host: str, lang: str,
                      i: int) -> tuple[str, str, str]:
    """Hostile-web family (VERDICT r3 next-round #6): the real crawl's
    worst citizens, each deterministic and bounded.  Extraction must
    stay deterministic and non-crashing on every kind; the per-kind
    behavior is pinned by goldens + the extract_corpus invariants."""
    bank = _EN_WORDS
    kind = i % 5
    title = _title(rng, bank)
    p1 = _paragraph(rng, bank)
    if kind == 0:
        # unclosed + misnested tags: <p>/<div> never closed, <b><i>
        # closed in the wrong order, document cut before </body>
        p2 = _paragraph(rng, bank)
        body = (
            f"<div class=wrap><p>{p1}<p><b>bold <i>misnested</b> tail?</i>"
            f"<div><p>{p2}"
        )
        return (
            f"<html><head><title>{title}</title><body><h1>{title}</h1>{body}",
            f"{title} {p1} {p2}",
            title,
        )
    if kind == 1:
        # 400-deep div soup, every level carrying an attribute — depth
        # beyond any sane page; parser must not recurse or re-scan
        depth = 400
        open_tags = "".join(f'<div class="lv{d % 7}" data-d="{d}">'
                            for d in range(depth))
        return (
            f"<html><body><h1>{title}</h1>{open_tags}<p>{p1}</p>"
            + "</div>" * depth + "</body></html>",
            f"{title} {p1}",
            title,
        )
    if kind == 2:
        # attribute/script bombs: one tag dragging a 64KB attribute, a
        # 32KB inline script and a 16KB style — all must be skipped
        # without quadratic scanning; the real paragraphs must survive
        blob = "A" * 65536
        js = "var x=1;" * 4096
        css = ".c{color:#000}" * 1170
        p2 = _paragraph(rng, bank)
        return (
            f"<html><head><title>{title}</title><style>{css}</style>"
            f"</head><body><h1>{title}</h1>"
            f'<div data-blob="{blob}" class="payload"><p>{p1}</p></div>'
            f"<script>{js}</script><p>{p2}</p></body></html>",
            f"{title} {p1} {p2}",
            title,
        )
    if kind == 3:
        # nested tables (data table inside a cell of a layout table,
        # itself inside another layout cell) — the classic 2000s layout
        # page; plus a paragraph outside
        inner = (
            "<table><caption>Table 1. nested measurements.</caption>"
            "<tr><th>k</th><th>v</th></tr>"
            "<tr><td>alpha</td><td>1.25</td></tr>"
            "<tr><td>beta</td><td>2.5</td></tr></table>"
        )
        mid = f"<table><tr><td>menu</td><td>{inner}</td></tr></table>"
        outer = f"<table><tr><td>{mid}</td></tr></table>"
        return (
            f"<html><body><h1>{title}</h1>{outer}<p>{p1}</p></body></html>",
            f"{title} {p1}",
            title,
        )
    # kind == 4: utf-16-LE page with BOM (caller encodes; the declared
    # meta says utf-8 — the BOM must win, reference X7 charset sniff)
    return (
        f'<html><head><meta charset="utf-8"><title>{title}</title></head>'
        f"<body><h1>{title}</h1><p>{p1}</p></body></html>",
        f"{title} {p1}",
        title,
    )


_BUILDERS = {
    "article": _page_article,
    "boilerplate": _page_boilerplate,
    "tabular": _page_tabular,
    "figure": _page_figure,
    "metadata": _page_metadata,
}


def family_of(i: int, seed: int = SEED) -> str:
    r = _rng(i, seed).random()
    for cum, fam in _FAMILY_CUM:
        if r < cum:
            return fam
    return "edge"


def gen_page(i: int, seed: int = SEED) -> dict:
    """One deterministic pages row.  Pure function of (seed, i)."""
    rng = _rng(i, seed)
    r_family = rng.random()
    family = next(fam for cum, fam in _FAMILY_CUM if r_family < cum)

    host = HOSTS[0] if rng.random() < 0.40 else HOSTS[1 + rng.randrange(49)]
    r_lang = rng.random()
    lang = "en" if r_lang < 0.80 else ("de" if r_lang < 0.90 else ("" if r_lang < 0.95 else None))

    if family == "edge":
        html_str, crawl_text, _t = _page_edge(rng, host, lang or "en", i)
    elif family == "adversarial":
        html_str, crawl_text, _t = _page_adversarial(rng, host, lang or "en", i)
        if i % 5 == 4:
            # utf-16-LE with BOM, despite the page's own utf-8 meta —
            # the BOM must win the charset sniff (reference X7)
            html = b"\xff\xfe" + html_str.encode("utf-16-le")
            url = f"https://{host}/{family}/page-{i:08d}.html"
            return {
                "url": url,
                "warc_ts": _EPOCH + _dt.timedelta(seconds=17 * i),
                "html": html,
                "text": ("[crawl] " + crawl_text[:800]) if crawl_text else "",
                "lang": lang,
            }
    else:
        html_str, crawl_text, _t = _BUILDERS[family](rng, host, lang or "en")

    # charset: ~2% declared windows-1252 with cp1252-only chars
    enc_roll = rng.random()
    if enc_roll < 0.02 and family not in ("edge", "adversarial"):
        html_str = html_str.replace(
            '<meta charset="utf-8">', '<meta charset="windows-1252">'
        ).replace("</h1>", " — “quoted” €</h1>", 1)
        html = html_str.encode("cp1252", errors="replace")
    else:
        html = html_str.encode("utf-8")

    # ~1% malformed: truncated tags / injected bad bytes
    mal_roll = rng.random()
    if mal_roll < 0.005:
        html = html[: int(len(html) * 0.6)]
    elif mal_roll < 0.01:
        cut = max(1, len(html) // 2)
        html = html[:cut] + b"\xff\xfe\xfa" + html[cut:]

    url = f"https://{host}/{family}/page-{i:08d}.html"
    return {
        "url": url,
        "warc_ts": _EPOCH + _dt.timedelta(seconds=17 * i),
        "html": html,
        # crawl-provided text intentionally != engine extraction
        "text": ("[crawl] " + crawl_text[:800]) if crawl_text else "",
        "lang": lang,
    }


def gen_rows(lo: int, hi: int, seed: int = SEED) -> Iterator[dict]:
    for i in range(lo, hi):
        yield gen_page(i, seed)


# ---------------------------------------------------------------------------
# Materialization paths
# ---------------------------------------------------------------------------

def arrow_table(n: int, seed: int = SEED, lo: int = 0):
    """Driver-side pyarrow table (small n: unit tests / goldens)."""
    import pyarrow as pa

    rows = list(gen_rows(lo, lo + n, seed))
    return pa.table(
        {
            "url": pa.array([r["url"] for r in rows], pa.string()),
            "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us")),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "text": pa.array([r["text"] for r in rows], pa.string()),
            "lang": pa.array([r["lang"] for r in rows], pa.string()),
        }
    )


def write_parquet(path: str, n: int, seed: int = SEED) -> str:
    import pyarrow.parquet as pq

    pq.write_table(arrow_table(n, seed), path)
    return path


def pages_df(spark, n: int, seed: int = SEED, partitions: int | None = None):
    """Distributed generation: spark.range -> mapInArrow(gen).

    Scale path — each executor generates its own id range; nothing is
    collected on the driver, so the same code synthesizes a 10^12-row
    table on a real cluster (the ids partition for free).  `warc_ts`
    is the fixture's wall time read as UTC, whatever the session time
    zone.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from .schema import PAGES_SCHEMA

    parts = partitions or max(2, spark.sparkContext.defaultParallelism)
    arrow_schema = to_arrow_schema(PAGES_SCHEMA)

    def gen(batches):
        for b in batches:
            rows = [gen_page(i, seed) for i in b.column("id").to_pylist()]
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return (
        spark.range(0, n, numPartitions=parts)
        .mapInArrow(gen, schema=PAGES_SCHEMA)
    )
