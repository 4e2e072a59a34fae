"""Fast regex tokenizer == stdlib html.parser, field-for-field.

The fast engine drives the same _BlockParser state machine; only the
tokenization differs.  Equality is asserted on the full ParseResult
(blocks, tables, figures, meta, lang, title, truncated) across a
corpus sample plus adversarial probes."""

import pytest

from document_extraction_service_spark import fixtures as fx
from document_extraction_service_spark.htmlparse import parse_html


@pytest.mark.parametrize("lo,hi", [(0, 400), (1000, 1200), (3000, 3100)])
def test_corpus_equivalence(lo, hi):
    for i in range(lo, hi):
        r = fx.gen_page(i)
        assert parse_html(r["html"], "fast") == parse_html(r["html"], "stdlib"), i


ADVERSARIAL = [
    b"",
    None,
    b"<html><p>a & b &amp; c &lt;tag&gt;</p>",
    b"<script>if (a<b && c>d) {x='<p>'}</script><p>real</p>",
    b"<style>p > a {color:red}</style><p>styled</p>",
    b"<p>unclosed <a href='x' <p>next</p>",
    b"<!-- <p>commented</p> --><p>live</p>",
    b"<P CLASS=loud>UPPER</P>",
    b"<td colspan=2>unquoted</td>",
    b"<p>ends <",
    b"<p>amp at end &",
    b"<title>T &amp; T</title><p>body text here okay</p>",
    b"<textarea><p>parsed as markup by stdlib</p></textarea><p>after</p>",
    b"\xff\xfe" + "utf16 <p>hi</p>".encode("utf-16-le"),
    bytes(range(256)),
    b"<table><tr><td>a<table><tr><td>inner</td></tr></table></td></tr></table>",
    b"<figure><img src=x.png><figcaption>Fig. 1 cap</figcaption></figure>",
    b"<meta name=author content=Jane><meta name='author' content='Bob'>",
    b"<script src=x.js>",  # unclosed raw-text element
    b"</\xef\xbf\xbdtd><td\xef\xbf\xbd>bogus tags</td>",
    # <a> attributes are not parsed by the fast engine (the block parser
    # never reads them); the tag boundaries must still match stdlib
    b'<p>before <a href="x>y" title=\'a>b\'>quoted gt</a> after</p>',
    b"<p>open <a href='unterminated>link</a> text</p><p>next block</p>",
    b'<p><a href="?a=1&amp;b=2&lt;3" title="&quot;t&quot; &#62;">entity</a> attr</p>',
    b"<P>upper <A HREF=/x.html CLASS=k>LINK TEXT</A> tail</P>",
    b"<table><tr><a href='#'><td colspan=3>wrapped cell</td></a></tr></table>",
    # a quote opens an attribute value only right after '='; a stray
    # one is part of an attribute name and the tag still closes
    b'<p>see <a href="x"">link</a> now</p>',
    b'<p>a <span class="k" ">b</span> c</p>',
    b'<p>a <img alt="x" "> c</p>',
    b'<p>a <a b"c>d">e</p>',
    b'<p>a <a x=y"z>w">e</p>',
    b'<p>a <a x= "unterminated>e</p><p>next</p>',
    # a tag with no closing '>' outside quotes is text through the next '>'
    b'<p>x</p><a x="<b>y</b>',
    # '/>' closes the element it opens
    b"<p>a <div/>b</p><p>c</p>",
    # an end tag ends at its first '>', even inside quotes
    b'<p>a <a href="x">t</a x=">"> tail</p>',
    # '=' can start an attribute name
    b"<p>x</p>" + b'<b =">"' * 3,
    # a NUL after a tag name makes the tag text
    b"<p>x<a\x00b>y</p><p>z<a\x00<b>w</b></p>",
]


@pytest.mark.parametrize("idx", range(len(ADVERSARIAL)))
def test_adversarial_equivalence(idx):
    payload = ADVERSARIAL[idx]
    assert parse_html(payload, "fast") == parse_html(payload, "stdlib")


# <hr> is both a block tag and a void element: it neither splits the
# block nor opens a depth level, and </hr> (like </br>) is ignored.
# Expected (text, tag, heading, depth, in_chrome) per block, and table
# rows, as recorded from the parser before its inline-tag fast path —
# pinned here rather than against the stdlib engine, which shares
# _BlockParser and would agree with any handler change.
VOID_PINNED = [
    (b"<p>foo<hr>bar</p>", [("foobar", "p", 0, 0, False)], []),
    (b"<p>foo<hr/>bar</p>", [("foobar", "p", 0, 0, False)], []),
    (b"<p>foo</hr>bar</p>", [("foobar", "p", 0, 0, False)], []),
    (b"<div>a<hr>b</div><p>c</p>",
     [("ab", "div", 0, 0, False), ("c", "p", 0, 0, False)], []),
    (b"<table><tr><td>x<hr>y</td></tr></table><p>after text</p>",
     [("after text", "p", 0, 0, False)], [[[("xy", False, 1, 1)]]]),
    (b"<h2>Head<hr>ing</h2><p>body</p>",
     [("Heading", "h2", 2, 0, False), ("body", "p", 0, 0, False)], []),
    (b"<nav>menu<hr>more</nav><p>main</p>",
     [("menumore", "nav", 0, 0, True), ("main", "p", 0, 0, False)], []),
    (b"<p>br<br>split</p><p>x</br>y</p>",
     [("br", "p", 0, 1, False), ("split", "p", 0, 0, False),
      ("xy", "p", 0, 0, False)], []),
]


@pytest.mark.parametrize("engine", ["fast", "stdlib"])
@pytest.mark.parametrize("idx", range(len(VOID_PINNED)))
def test_void_block_tags_pinned(idx, engine):
    payload, blocks, tables = VOID_PINNED[idx]
    r = parse_html(payload, engine)
    assert [(b.text, b.tag, b.heading, b.depth, b.in_chrome) for b in r.blocks] == blocks
    assert [t.rows for t in r.tables] == tables


# '<'+letter runs with no closing '>' (also end tags and unterminated
# quotes) parse in one pass, not one scan to the end of the page per '<'
UNTERMINATED = [b"<a ", b"</a ", b'<a x="', b"<a '"]


@pytest.mark.parametrize("unit", UNTERMINATED)
def test_unterminated_tag_runs_parse_in_linear_time(unit):
    import time

    small = b"<p>x</p>" + unit * 2_000
    assert parse_html(small, "fast") == parse_html(small, "stdlib")
    big = b"<p>x</p>" + unit * 50_000
    t0 = time.perf_counter()
    r = parse_html(big, "fast")
    assert time.perf_counter() - t0 < 2.0
    assert [b.text for b in r.blocks][0] == "x"


def test_failed_tag_scans_are_bounded():
    """Every tag here hides its '>' in a quoted value, so each one
    fails after a scan to the end of the page; past
    MAX_FAILED_TAG_SCANS page lengths of such scans the rest is text
    and the result is flagged truncated.  The blocks are stdlib's."""
    import time

    few = b"<p>x</p>" + b'<a x=">" ' * 3
    assert parse_html(few, "fast") == parse_html(few, "stdlib")
    small = b"<p>x</p>" + b'<a x=">" ' * 1_000
    fast, ref = parse_html(small, "fast"), parse_html(small, "stdlib")
    assert fast.blocks == ref.blocks
    assert fast.truncated and not ref.truncated
    t0 = time.perf_counter()
    parse_html(b"<p>x</p>" + b'<a x=">" ' * 200_000, "fast")
    assert time.perf_counter() - t0 < 2.0
