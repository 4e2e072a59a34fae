"""Charset sniff + HTML -> block frame.

Replaces the reference's PDF scan (S1: fitz.open + getText('dict'),
/root/reference/app/core/extraction_modul/extraction_model.py:74-137)
with a single streaming pass over the HTML byte payload.  The output
is a flat list of geometry-free *blocks* — the analog of the
reference's ``TextBlock`` list (internal_models.py:53-77) with DOM
position replacing bbox geometry — plus structured table / figure /
meta captures.

Pure stdlib (html.parser), fully deterministic, never raises for any
byte input: adversarial payloads surface as ``truncated`` flags or as
an error captured by the caller (SURVEY §7.4 hard parts 3-4).
"""

from __future__ import annotations

import re
import unicodedata
from dataclasses import dataclass, field
from html.parser import HTMLParser

# Truncation guards (SURVEY §7.4 #4: bound work per row, flag instead
# of OOM).  A 10 MB page parses its first MAX_HTML_BYTES only.
MAX_HTML_BYTES = 2_000_000
MAX_BLOCKS = 5_000
MAX_TABLES = 64
MAX_FIGURES = 256
MAX_CELLS_PER_TABLE = 4_096
# A start/end tag with no closing '>' is text, found by a scan to the
# end of the page from its '<'.  After failed scans worth this many
# page lengths the rest of the page is text, so tag soup that fails
# at every '<' stays linear.  A failed scan walks stdlib's attribute
# grammar name by name; at 8 page lengths the worst-case page (1.8 MB
# of such tags) parses in under a second on one core.
MAX_FAILED_TAG_SCANS = 8

_META_CHARSET_RE = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?\s*([a-zA-Z0-9_\-]+)""", re.I
)

# Block-level boundaries: flushing the text buffer at these tags is the
# analog of the reference's line-gap block re-segmentation (W1,
# internal_models.py:100-167) — DOM structure gives the segmentation
# explicitly.
_BLOCK_TAGS = frozenset(
    "p div section article main header footer nav aside h1 h2 h3 h4 h5 h6 "
    "li ul ol dl dt dd blockquote pre table thead tbody tfoot tr td th "
    "caption figure figcaption form fieldset hr br title address summary "
    "details".split()
)
_SKIP_TAGS = frozenset("script style noscript template svg iframe object".split())
# Chrome ancestors: structural boilerplate containers.  The analog of
# the reference's metadata/recurring-element block classes (F3/O6).
_CHROME_TAGS = frozenset("nav footer aside".split())
_HEADINGS = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}
_VOID_TAGS = frozenset("br img meta link input hr area base col embed source track wbr".split())
# any other tag is inline to the handlers: it moves only the depth and
# the link/bold/cite trackers (and <html> sets the page language)
_STRUCT_TAGS = _BLOCK_TAGS | _VOID_TAGS
MAX_CITES = 256  # <cite> harvest cap (references parity, datamodels.py:60-64)


@dataclass
class Block:
    idx: int
    text: str
    tag: str
    heading: int  # 0 = not a heading, 1-6 = h1-h6
    n_chars: int
    n_link_chars: int
    n_bold_chars: int
    in_chrome: bool
    depth: int


@dataclass
class TableCap:
    anchor: int  # block idx before the table opened
    caption: str
    # rows of (text, is_header_cell, colspan, rowspan)
    rows: list = field(default_factory=list)


@dataclass
class FigureCap:
    anchor: int
    src: str
    caption: str


@dataclass
class ParseResult:
    blocks: list
    tables: list
    figures: list
    meta: dict
    cites: list  # <cite> element texts, document order (refs source)
    html_lang: str
    title: str
    truncated: bool
    encoding: str


def sniff_decode(raw: bytes) -> tuple[str, str, bool]:
    """(text, encoding, truncated).  Order (SURVEY §7.4 #1): BOM ->
    declared <meta charset> in the first 2048 bytes -> utf-8 with
    'replace'.  Output is NFC-normalized so extracted bytes are stable
    across environments."""
    truncated = False
    if raw is None:
        return "", "utf-8", False
    if len(raw) > MAX_HTML_BYTES:
        raw = raw[:MAX_HTML_BYTES]
        truncated = True
    enc = None
    if raw[:3] == b"\xef\xbb\xbf":
        enc, raw = "utf-8", raw[3:]
    elif raw[:2] in (b"\xff\xfe", b"\xfe\xff"):
        enc = "utf-16"
    else:
        m = _META_CHARSET_RE.search(raw[:2048])
        if m:
            cand = m.group(1).decode("ascii", "replace").lower()
            try:
                b"x".decode(cand)
                enc = cand
            except (LookupError, UnicodeDecodeError):
                enc = None
    enc = enc or "utf-8"
    try:
        text = raw.decode(enc, errors="replace")
    except Exception:
        enc = "utf-8"
        text = raw.decode("utf-8", errors="replace")
    return unicodedata.normalize("NFC", text), enc, truncated


def _span_val(v) -> int:
    """colspan/rowspan attribute -> int in [1, 64]; 1 when absent or
    malformed."""
    try:
        return max(1, min(64, int(v)))
    except (TypeError, ValueError):
        return 1


def _norm_ws(s: str) -> str:
    # C-level whitespace collapse (~4x faster than re.sub on this path);
    # str.split also folds unicode spaces (NBSP), which is the desired
    # rendering semantics for HTML text
    return " ".join(s.split())


class _BlockParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[Block] = []
        self.tables: list[TableCap] = []
        self.figures: list[FigureCap] = []
        self.meta: dict[str, str] = {}
        self.cites: list[str] = []
        self.html_lang = ""
        self.title_parts: list[str] = []
        self.truncated = False

        self._buf: list[str] = []
        self._buf_link_chars = 0
        self._buf_bold_chars = 0
        self._buf_tag = "p"
        self._buf_heading = 0
        self._depth = 0
        self._link_depth = 0
        self._bold_depth = 0
        self._skip_depth = 0
        self._chrome_depth = 0
        self._in_title = False
        # table state: stack of (TableCap, current_row, current_cell_parts,
        # cell_is_th, colspan, rowspan, in_caption)
        self._tstack: list[dict] = []
        # figure state
        self._fig: dict | None = None
        self._in_figcaption = False
        self._cite_parts: list[str] | None = None

    # -- helpers -----------------------------------------------------------
    def _flush(self) -> None:
        if not self._buf:
            return
        text = _norm_ws("".join(self._buf))
        link_chars = self._buf_link_chars
        bold_chars = self._buf_bold_chars
        self._buf = []
        self._buf_link_chars = 0
        self._buf_bold_chars = 0
        if not text:
            return
        if len(self.blocks) >= MAX_BLOCKS:
            self.truncated = True
            return
        n = len(text)
        # fields in declaration order: positional arguments cost half
        # of a keyword call to the dataclass __init__
        self.blocks.append(Block(
            len(self.blocks), text, self._buf_tag, self._buf_heading, n,
            min(link_chars, n), min(bold_chars, n), self._chrome_depth > 0,
            self._depth,
        ))

    def _flush_cell(self) -> None:
        t = self._tstack[-1]
        if t["cell_parts"] is not None:
            text = _norm_ws("".join(t["cell_parts"]))
            # per-table CELL counter (includes the in-progress row —
            # a single mega-row can no longer evade the budget)
            if t["n_cells"] < MAX_CELLS_PER_TABLE:
                t["row"].append((text, t["cell_th"], t["colspan"], t["rowspan"]))
                t["n_cells"] += 1
            else:
                self.truncated = True
            t["cell_parts"] = None

    def _flush_row(self) -> None:
        t = self._tstack[-1]
        self._flush_cell()
        if t["row"]:
            t["cap"].rows.append(t["row"])
        t["row"] = []

    # -- HTMLParser hooks ---------------------------------------------------
    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
            return
        if self._skip_depth:
            return
        if tag not in _STRUCT_TAGS:
            # inline element (a, span, b, em, cite, html, ...): only the
            # link/bold/cite trackers and the depth move
            if tag == "a":
                self._link_depth += 1
            elif tag == "b" or tag == "strong":
                # bold span tracking: the DOM signal replacing the
                # reference's font-size header heuristic (text_api.py:285-356)
                self._bold_depth += 1
            elif tag == "cite":
                self._cite_parts = []
            elif tag == "html":
                lang = dict(attrs).get("lang")
                if lang:
                    self.html_lang = lang.strip().lower()[:8]
            if self._depth < 10_000:
                self._depth += 1
            return
        if tag == "meta":
            ad = dict(attrs)
            key = (ad.get("name") or ad.get("property") or "").strip().lower()
            if key and ad.get("content") is not None:
                # first value wins except repeatable author tags
                if key in ("author", "citation_author"):
                    prev = self.meta.get("__authors__", [])
                    prev.append(ad["content"].strip())
                    self.meta["__authors__"] = prev
                elif key == "citation_reference":
                    prev = self.meta.get("__refs__", [])
                    if len(prev) < MAX_CITES:
                        prev.append(ad["content"].strip())
                    self.meta["__refs__"] = prev
                elif key not in self.meta:
                    self.meta[key] = ad["content"].strip()
            return
        if tag == "title":
            self._in_title = True
            return
        if tag == "img":
            src = (dict(attrs).get("src") or "").strip()
            if self._fig is not None and not self._fig["src"]:
                self._fig["src"] = src
            elif self._fig is None and src and len(self.figures) < MAX_FIGURES:
                # standalone <img>: figure candidate with no caption — the
                # validator downstream rejects caption-less figures
                # (reference requires a description block, image_api.py:88-101)
                self.figures.append(FigureCap(anchor=len(self.blocks), src=src, caption=""))
            return
        if tag in _VOID_TAGS and tag != "br":
            return  # void element (<hr> too): no block, no depth change

        if self._tstack:
            # block boundary inside a table cell: space-join
            t = self._tstack[-1]
            if t["cell_parts"] is not None:
                t["cell_parts"].append(" ")
            elif t["in_caption"]:
                t["cap_parts"].append(" ")
        else:
            self._flush()
        if tag in _HEADINGS:
            self._buf_heading = _HEADINGS[tag]
            self._buf_tag = tag
        elif tag == "br":
            return  # void: no depth change
        else:
            self._buf_heading = 0
            self._buf_tag = tag

        if tag in _CHROME_TAGS:
            self._chrome_depth += 1
        if tag == "table":
            if len(self.tables) < MAX_TABLES:
                cap = TableCap(anchor=len(self.blocks), caption="")
                self.tables.append(cap)
                self._tstack.append(
                    dict(cap=cap, row=[], cell_parts=None, cell_th=False,
                         colspan=1, rowspan=1, in_caption=False, cap_parts=[],
                         n_cells=0)
                )
        elif self._tstack:
            t = self._tstack[-1]
            if tag == "tr":
                self._flush_row()
            elif tag == "td" or tag == "th":
                self._flush_cell()
                t["cell_parts"] = []
                t["cell_th"] = tag == "th"
                ad = dict(attrs)
                t["colspan"] = _span_val(ad.get("colspan"))
                t["rowspan"] = _span_val(ad.get("rowspan"))
            elif tag == "caption":
                t["in_caption"] = True
        if tag == "figure":
            self._flush()
            self._fig = dict(anchor=len(self.blocks), src="", cap_parts=[])
        elif tag == "figcaption" and self._fig is not None:
            self._in_figcaption = True
        if self._depth < 10_000:
            self._depth += 1

    def handle_startendtag(self, tag, attrs):
        self.handle_starttag(tag, attrs)
        if tag not in _VOID_TAGS:
            self.handle_endtag(tag)

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if self._skip_depth:
            return
        if tag not in _STRUCT_TAGS:
            if self._depth:
                self._depth -= 1
            if tag == "a":
                if self._link_depth:
                    self._link_depth -= 1
            elif tag == "b" or tag == "strong":
                if self._bold_depth:
                    self._bold_depth -= 1
            elif tag == "cite" and self._cite_parts is not None:
                text = _norm_ws("".join(self._cite_parts))
                if text and len(self.cites) < MAX_CITES:
                    self.cites.append(text)
                self._cite_parts = None
            return
        if tag == "title":
            self._in_title = False
            return
        if tag in _VOID_TAGS:
            return  # void element (</br>, </hr>): ignored
        if self._depth:
            self._depth -= 1
        if not self._tstack:
            self._flush()
            if tag in _HEADINGS:
                self._buf_heading = 0
                self._buf_tag = "p"
        if tag in _CHROME_TAGS:
            self._chrome_depth = max(0, self._chrome_depth - 1)
        if self._tstack:
            t = self._tstack[-1]
            if tag == "table":
                self._flush_row()
                t["cap"].caption = _norm_ws("".join(t["cap_parts"]))
                self._tstack.pop()
            elif tag == "tr":
                self._flush_row()
            elif tag == "td" or tag == "th":
                self._flush_cell()
            elif tag == "caption":
                t["in_caption"] = False
        if tag == "figcaption":
            self._in_figcaption = False
        elif tag == "figure" and self._fig is not None:
            if len(self.figures) < MAX_FIGURES:
                self.figures.append(
                    FigureCap(
                        anchor=self._fig["anchor"],
                        src=self._fig["src"],
                        caption=_norm_ws("".join(self._fig["cap_parts"])),
                    )
                )
            self._fig = None

    def handle_data(self, data):
        if self._skip_depth or not data:
            return
        if self._in_title:
            self.title_parts.append(data)
            return
        if self._tstack:
            t = self._tstack[-1]
            if t["in_caption"]:
                t["cap_parts"].append(data)
            elif t["cell_parts"] is not None:
                t["cell_parts"].append(data)
            # stray text directly under <table>/<tr> is dropped (HTML
            # spec hoists it out; fixtures never rely on it)
            return
        if self._in_figcaption and self._fig is not None:
            self._fig["cap_parts"].append(data)
            return
        self._buf.append(data)
        if self._link_depth > 0 or self._bold_depth > 0:
            n = len(_norm_ws(data))
            if self._link_depth > 0:
                self._buf_link_chars += n
            if self._bold_depth > 0:
                self._buf_bold_chars += n
        if self._cite_parts is not None:
            self._cite_parts.append(data)


# ---------------------------------------------------------------------------
# Fast tokenizer: a regex scan that drives the SAME _BlockParser state
# machine as stdlib html.parser (~2.5x faster tokenization; the state
# machine and all semantics are shared).  The stdlib path is kept as
# the reference implementation — tests assert ParseResult equality
# across the whole fixture corpus plus adversarial probes.
# ---------------------------------------------------------------------------
import html as _html_mod

_TOKEN_RE = re.compile(
    r"""<(?:
        !--.*?(?:-->|\Z)                 # comment (possibly unterminated)
      | !\[CDATA\[.*?(?:\]\]>|\Z)        # cdata
      | ![^>]*>?                         # doctype / other declarations
      | \?[^>]*>?                        # processing instruction
      | /(?![a-zA-Z])[^>]*>?             # bogus end tag -> bogus comment (stdlib parity)
        # end tag: ends at the first '>', quoted or not (stdlib parity)
      | /(?P<end>[a-zA-Z][^\t\n\r\f />\x00]*)[^>]*>
      | (?P<tag>[a-zA-Z][^\t\n\r\f />\x00]*)  # tolerant tag name (stdlib charset)
        # stdlib's attribute grammar (locatestarttagend_tolerant), made
        # possessive so a tag with no closing '>' fails without
        # backtracking: a name starts after whitespace, '/' or a quote
        # and may begin with '=' (a run of names without values is one
        # step); a quote opens a value only right after '='; a '/'
        # right before '>' is left to selfclose
        (?P<attrs>(?:\s*+(?:/(?!>)\s*+)*+
          (?<=['"\s/])[^\s/>][^\s/=>]*+(?:\s++[^\s/>=][^\s/=>]*+)*+
          (?>\s*+=+\s*(?:'[^']*'|"[^"]*"|(?!['"])[^>\s]*))?)*+
          \s*+(?:/(?!>)\s*+)*+)
        (?P<selfclose>/)?>
        # a NUL right after the name ends the tag at once: its text
        # stays text (stdlib parity), with no failed scan to charge
      | (?P<nul>[a-zA-Z][^\t\n\r\f />\x00]*(?<!['"])(?=\x00))
      # unterminated tag: text through the next '>' (stdlib's recovery);
      # with no '>' left the rest is text in one match, not one failed
      # scan per later '<'
      | (?P<stray>/?[a-zA-Z][^>]*>?)
    )""",
    re.S | re.X,
)
_ATTR_RE = re.compile(
    r"""([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*(?:=\s*("[^"]*"|'[^']*'|[^\s>]*))?"""
)
# tags whose attributes the block parser actually reads
_ATTR_TAGS = frozenset("meta img html td th".split())
# raw-text elements: content is never parsed as markup.  Exactly
# html.parser's CDATA_CONTENT_ELEMENTS (script/style) for parity —
# stdlib parses textarea/title content as markup.
_RAW_TEXT = {"script", "style"}
_RAW_END = {t: re.compile(rf"</{t}\b[^>]*>", re.I) for t in _RAW_TEXT}


def _parse_attrs(s: str) -> list:
    if not s or "=" not in s and not s.strip():
        return []
    out = []
    for m in _ATTR_RE.finditer(s):
        name = m.group(1).lower()
        val = m.group(2)
        if val is None:
            out.append((name, None))
            continue
        if val[:1] in "\"'":
            val = val[1:-1]
        if "&" in val:
            val = _html_mod.unescape(val)
        out.append((name, val))
    return out


def _fast_feed(p: _BlockParser, text: str) -> None:
    """Drive the _BlockParser handlers via regex tokenization.  Matches
    stdlib html.parser behaviour for the constructs the block parser
    consumes (tags, data with charrefs decoded, raw-text elements)."""
    finditer = _TOKEN_RE.finditer
    unescape = _html_mod.unescape
    handle_data = p.handle_data
    starttag, endtag = p.handle_starttag, p.handle_endtag
    n = len(text)
    scan_budget = MAX_FAILED_TAG_SCANS * n
    pos = 0
    while True:
        for m in finditer(text, pos):
            end, tag, attrs, selfclose, nul, stray = m.groups()
            if nul is not None:
                continue  # stays in the surrounding text
            if stray is not None:
                scan_budget -= n - m.start()
                if scan_budget >= 0:
                    continue  # stays in the surrounding text
                data = text[pos:]
                handle_data(unescape(data) if "&" in data else data)
                p.truncated = True
                return
            start = m.start()
            if start > pos:
                data = text[pos:start]
                handle_data(unescape(data) if "&" in data else data)
            pos = m.end()
            if end is not None:
                endtag(end.lower())
                continue
            if tag is None:
                continue  # comment/doctype/pi: ignored (stdlib parity)
            tag_l = tag.lower()
            attrs = _parse_attrs(attrs) if tag_l in _ATTR_TAGS else []
            if selfclose:
                p.handle_startendtag(tag_l, attrs)
                continue
            starttag(tag_l, attrs)
            if tag_l in _RAW_TEXT:
                break
        else:
            data = text[pos:]
            if data:
                handle_data(unescape(data) if "&" in data else data)
            return
        # raw-text element: consume its content up to the real closing
        # tag without interpreting '<' inside, then resume the scan
        em = _RAW_END[tag_l].search(text, pos)
        raw = text[pos:em.start() if em else len(text)]
        if raw:
            handle_data(raw)
        endtag(tag_l)
        if em is None:
            return
        pos = em.end()


def parse_html(raw: bytes, engine: str = "fast") -> ParseResult:
    """bytes -> ParseResult.  Never raises (per-row error capture is the
    caller's job only for truly pathological interpreter errors).

    engine: 'fast' (regex tokenizer, default) or 'stdlib'
    (html.parser reference — used by the equivalence tests)."""
    text, enc, truncated = sniff_decode(raw)
    p = _BlockParser()
    try:
        if engine == "fast":
            _fast_feed(p, text)
        else:
            p.feed(text)
            p.close()
    except Exception:
        # tolerate anything; keep whatever was parsed before the error
        truncated = True
    p._flush()
    return ParseResult(
        blocks=p.blocks,
        tables=[t for t in p.tables if t.rows],
        figures=p.figures,
        meta=p.meta,
        cites=p.cites,
        html_lang=p.html_lang,
        title=_norm_ws("".join(p.title_parts)),
        truncated=truncated or p.truncated,
        encoding=enc,
    )
