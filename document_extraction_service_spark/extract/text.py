"""Block classification + text assembly.

The analog of the reference's TextStrategy
(/root/reference/app/core/extraction_modul/apis/text_api.py): classify
each block as content or boilerplate (F2/F3/F6, O6/O7, J6), then build
the Chapter -> Paragraph -> Sentence tree (W3-W6, J5, F7/F8) and the
flat ``extracted_text`` that carries the byte-identical invariant.

All functions are pure; the only inputs are the parsed block frame and
the constants in textops.py.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

from . import textops as X

# candidate pairs per numpy pass: bounds the pass's memory, and the pairs
# built past an exhausted budget, on adversarial pages with thousands of
# same-length keys
_PAIR_CHUNK = 1024


def _header_like(blocks, words, k) -> bool:
    """Non-markup header detection (reference _identify_headers,
    text_api.py:285-356): a short, link-free block becomes a heading
    when it is

      * a COMMON_HEADERS phrase (text_api.py:320-329, whole-phrase
        match — see textops.COMMON_HEADERS), or
      * enumerated ("^\\d") after a block ending in '.'
        (starts_with_number ∧ prevEndsWithPoint, text_api.py:301,332)
        and followed by a content-length block (long_textBlock_after,
        text_api.py:307 — gate added so numbered list items after
        prose never promote), or
      * rendered entirely bold (`<b>`/`<strong>` ≥ 90% of chars) and
        followed by a content-length block — the DOM-native stand-in
        for the reference's font-size signal.

    Gates shared with the reference: < HEADER_MAX_WORDS words
    (text_api.py:313), > HEADER_MIN_CHARS non-space chars
    (text_api.py:317).  `words[k]` is block k's word count.
    """
    b = blocks[k]
    if words[k] >= X.HEADER_MAX_WORDS or b.n_link_chars > 0:
        return False
    if len(b.text.replace(" ", "")) <= X.HEADER_MIN_CHARS:
        return False
    if X.is_common_header(b.text):
        return True
    nxt = blocks[k + 1] if k + 1 < len(blocks) else None
    next_is_content = (
        nxt is not None
        and not nxt.in_chrome
        and words[k + 1] >= X.MIN_CONTENT_WORDS
    )
    if not next_is_content:
        return False
    if b.n_bold_chars * 10 >= b.n_chars * 9 and not b.text.endswith("."):
        return True
    if b.text[:1].isdigit():
        prev = blocks[k - 1] if k > 0 else None
        if prev is not None and prev.text.endswith("."):
            return True
    return False


def _candidate_pairs(lens: list[int]):
    """Yield the candidate pairs (i, j), i < j, of keys sorted by length,
    in scan order, as chunks of parallel (left, right) index lists of
    about _PAIR_CHUNK pairs.  A pair is a candidate when its length gap
    fits kmax = (la + lb - 1) // 20, i.e. 19*lb < 21*la; lengths are
    sorted, so each i's partners are the run right after it."""
    left, right = [], []
    for i, la in enumerate(lens):
        for j in range(i + 1, len(lens)):
            if 19 * lens[j] >= 21 * la:
                break
            left.append(i)
            right.append(j)
        if len(left) >= _PAIR_CHUNK:
            yield left, right
            left, right = [], []
    if left:
        yield left, right


def _coarse_counts(keys: list[str]) -> np.ndarray:
    """(len(keys), 256) counts of each key's code points mod 256.  This
    merges characters into 256 classes (exact for ASCII), so its L1
    distance between two keys never exceeds their char-multiset L1."""
    low = np.frombuffer("".join(keys).encode("utf-32-le"), dtype=np.uint8)[::4]
    rows = np.repeat(np.arange(len(keys)), [len(k) for k in keys])
    flat = np.bincount(rows * 256 + low, minlength=len(keys) * 256)
    # keys are at most 2 * FUZZY_KEY_LEN chars: counts fit int16
    return flat.astype(np.int16).reshape(len(keys), 256)


def _char_l1(a: str, b: str) -> int:
    """L1 distance between the char multisets of a and b."""
    ca, cb = Counter(a), Counter(b)
    return sum((ca - cb).values()) + sum((cb - ca).values())


def _merge_fuzzy_groups(groups: dict[str, list[int]]) -> None:
    """O7 true fuzzy semantics (reference get_textual_duplicates,
    text_models.py:356-374): near-identical keys — Levenshtein ratio
    > 95, the deterministic X9 stand-in for fuzz.ratio — collapse into
    one group, so boilerplate variants differing by a counter or date
    ("3 comments" / "4 comments") dedup like exact matches.

    Candidate pairs are limited to keys within the feasible length
    window, scanned in sorted order under a fixed comparison budget:
    an adversarial page with thousands of same-length unique keys
    degrades to exact-key behaviour (deterministically — the budget
    cuts the same pairs every run), never to O(n^2) wall time."""
    keys = sorted((k for k in groups if k), key=lambda k: (len(k), k))
    if len(keys) < 2:
        return
    parent = {k: k for k in keys}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    # The char-multiset L1 distance lower-bounds the weighted edit
    # distance (each indel moves one count at cost 1, each substitution
    # moves two at cost 2), and the coarse L1 lower-bounds that, so a
    # pair above kmax on either is no match.  One numpy pass bounds a
    # chunk of pairs; the few it keeps are checked exactly, and only
    # pairs within kmax of the exact bound spend the comparison budget,
    # in scan order.
    budget = X.FUZZY_MAX_COMPARISONS
    lens = [len(k) for k in keys]
    counts = lens_arr = None
    for left, right in _candidate_pairs(lens):
        if counts is None:  # built only on pages with a candidate pair
            counts, lens_arr = _coarse_counts(keys), np.array(lens)
        li, ri = np.array(left), np.array(right)
        kmax = (lens_arr[li] + lens_arr[ri] - 1) // 20
        coarse = np.abs(counts[li] - counts[ri]).sum(axis=1)
        for q in np.flatnonzero(coarse <= kmax).tolist():
            a, b = keys[left[q]], keys[right[q]]
            if _char_l1(a, b) > kmax[q]:
                continue
            budget -= 1
            if X.fuzzy_close(a, b):
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[rb] = ra
            if budget <= 0:
                break
        if budget <= 0:
            break
    for k in keys:
        r = find(k)
        if r != k:
            groups[r].extend(groups.pop(k))
    for idxs in groups.values():
        idxs.sort()


def classify_blocks(blocks) -> list[str]:
    """Label each block: 'content' | 'heading' | 'title' | 'drop'.

    Order of rules (each cites its reference analog):
      1. chrome ancestors (nav/footer/aside)          — F3/J6 structural
      2. recurring exact text > RECURRING_MAX         — O6 (text_models.py:377-390)
      3. fuzzy-duplicate groups keep longest          — O7 (text_models.py:331-374)
      4. boilerplate patterns on short blocks         — F3 (util_functions.py:13-21)
      5. link/text density                            — F2 (text_api.py:144-187)
      6. sandwich resurrection of short blocks        — W8 (table_models.py:908-911)
    """
    n = len(blocks)
    labels = ["drop"] * n

    exact_counts = Counter(b.text for b in blocks)
    fuzzy_groups: dict[str, list[int]] = {}
    for k, b in enumerate(blocks):
        fuzzy_groups.setdefault(X.fuzzy_key(b.text), []).append(k)
    _merge_fuzzy_groups(fuzzy_groups)
    fuzzy_drop = set()
    for key, idxs in fuzzy_groups.items():
        if key and len(idxs) >= 2:
            keep = max(idxs, key=lambda k: (blocks[k].n_chars, -k))
            fuzzy_drop.update(k for k in idxs if k != keep)

    # block text is whitespace-normalized (single spaces, no edge
    # spaces), so the word count is the space count plus one
    words = [b.text.count(" ") + 1 for b in blocks]
    seen_title = False
    for k, b in enumerate(blocks):
        if b.in_chrome:
            continue
        if exact_counts[b.text] > X.RECURRING_MAX:
            continue
        if k in fuzzy_drop:
            continue
        if (
            words[k] <= X.BOILER_MAX_WORDS
            and b.n_chars <= X.BOILER_MAX_CHARS
            and X.is_boilerplate(b.text)
        ):
            continue
        link_density = b.n_link_chars / max(b.n_chars, 1)
        if b.heading == 1 and not seen_title:
            labels[k] = "title"
            seen_title = True
        elif b.heading >= 1:
            labels[k] = "heading"
        elif _header_like(blocks, words, k):
            labels[k] = "heading"
        elif words[k] >= X.MIN_CONTENT_WORDS and link_density <= X.LINK_DENSITY_MAX:
            labels[k] = "content"
        elif link_density <= X.LINK_DENSITY_MAX:
            labels[k] = "short"  # sandwich candidate
    # sandwich pass (W8): a short block between two content blocks is content
    for k in range(n):
        if labels[k] == "short":
            prev_c = next((labels[j] for j in range(k - 1, -1, -1) if labels[j] != "drop"), None)
            next_c = next((labels[j] for j in range(k + 1, n) if labels[j] != "drop"), None)
            labels[k] = "content" if prev_c == "content" and next_c == "content" else "drop"
    return labels


def build_text(blocks, labels):
    """-> (extracted_text, chapters, block_offsets, title_guess)

    chapters: [{'header': str|None, 'paragraphs': [{'sentences': [str]}]}]
    block_offsets: {block_idx: (start, end)} char spans into
    extracted_text — the span replacement for the reference's bbox
    geometry (used to anchor tables/figures).

    extracted_text layout: one line per header and per paragraph
    (sentences joined by ' '), lines joined by '\\n' (FIXTURES.md §3).
    """
    chapters: list[dict] = []
    lines: list[str] = []
    offsets: dict[int, tuple[int, int]] = {}
    title_guess = ""
    cur: dict | None = None
    pos = 0

    def _emit_line(text: str, block_idx: int) -> None:
        nonlocal pos
        start = pos if not lines else pos + 1  # +1 for the joining '\n'
        lines.append(text)
        end = start + len(text)
        offsets[block_idx] = (start, end)
        pos = end

    for k, b in enumerate(blocks):
        lab = labels[k]
        if lab == "title":
            title_guess = b.text
            continue
        if lab == "heading":
            cur = {"header": b.text, "paragraphs": [], "_hidx": k}
            chapters.append(cur)
            continue
        if lab != "content":
            continue
        text = X.dehyphenate(b.text)
        sentences = X.split_sentences(text)
        sentences = [s for s in sentences if s.strip()]  # F7
        if not sentences:
            continue
        if cur is None:
            cur = {"header": None, "paragraphs": [], "_hidx": None}
            chapters.append(cur)
        cur["paragraphs"].append({"sentences": sentences, "_bidx": k})

    # F7/F8: drop empty chapters and chapters below the char floor
    kept = []
    for ch in chapters:
        total = sum(len(s) for p in ch["paragraphs"] for s in p["sentences"])
        if ch["paragraphs"] and total >= X.MIN_CHAPTER_CHARS:
            kept.append(ch)

    for ch in kept:
        if ch["header"] is not None:
            _emit_line(ch["header"], ch["_hidx"])
        for p in ch["paragraphs"]:
            _emit_line(" ".join(p["sentences"]), p["_bidx"])

    out_chapters = [
        {
            "header": ch["header"],
            "paragraphs": [{"sentences": p["sentences"]} for p in ch["paragraphs"]],
        }
        for ch in kept
    ]
    return "\n".join(lines), out_chapters, offsets, title_guess


def anchor_span(anchor_idx: int, offsets: dict) -> dict:
    """Span of the nearest kept block at or before anchor_idx; the
    insertion point for a table/figure in the text flow.  (-1,-1) when
    nothing precedes it."""
    for k in range(anchor_idx - 1, -1, -1):
        if k in offsets:
            s, e = offsets[k]
            return {"start": s, "end": e}
    return {"start": -1, "end": -1}
