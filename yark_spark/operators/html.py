"""From-scratch HTML → text extraction (round 12) — the boilerplate
pass every crawled-web corpus runs between WARC ingest and curation
(the real WET generator strips HTTP framing AND markup; operators/
multimodal.warc_wet_extract covers the framing half, this module the
markup half).

A deliberately small, deterministic state machine — not a browser
parser: tags are delimiters, never semantics. Rules:

* ``<script>`` / ``<style>`` / ``<!-- -->`` / CDATA bodies are dropped
  whole (raw-text elements close only at their literal end tag, per the
  HTML5 tokenizer's RAWTEXT rule — a ``<div>`` inside a script does not
  close it);
* block-level boundaries (p, div, br, li, tr, headings, …) emit a
  newline; inline tags (b, i, em, span, a, …) vanish without breaking
  the surrounding word — ``wo<b>r</b>d`` extracts as ``word``;
* character/entity references decode via the published HTML5 table
  (stdlib ``html.unescape``);
* text nodes are preserved VERBATIM between boundaries;
  whitespace-only nodes created by markup indentation are dropped, so
  extraction of ``<p>text</p>`` is byte-exactly ``text`` — what the
  constructed-exact oracle key relies on;
* malformed markup never raises: an unclosed tag at EOF is dropped,
  stray ``<`` that cannot open a tag is literal text (the HTML5
  less-than-sign-in-data rule).

Pure stdlib.
"""

from __future__ import annotations

import html as _htmlmod
import re

__all__ = [
    "html_page_fixture",
    "html_to_text",
    "html_blocks",
    "classify_blocks",
    "html_main_text",
    "main_content_page_fixture",
]

#: Elements whose raw bodies are dropped (HTML5 script-data/RAWTEXT).
_RAW_TEXT = ("script", "style")

#: Tags treated as block boundaries (newline emitted on open AND close).
_BLOCK = frozenset(
    """p div br hr li ul ol dl dt dd table thead tbody tr td th h1 h2 h3
    h4 h5 h6 blockquote pre article section header footer nav aside form
    figure figcaption main address title""".split()
)

_TAG_NAME = re.compile(r"[a-zA-Z][a-zA-Z0-9-]*")


def html_to_text(payload: "bytes | str") -> str:
    """Extract the text content of an HTML document (see module
    docstring for the exact rules). Block boundaries join with a single
    newline; leading/trailing whitespace is stripped."""
    s = payload.decode("utf-8", "replace") if isinstance(payload, (bytes, bytearray)) else payload
    n = len(s)
    i = 0
    chunks: list[str] = []  # text segments; "\n" markers for block breaks
    while i < n:
        lt = s.find("<", i)
        if lt < 0:
            chunks.append(s[i:])
            break
        if lt > i:
            chunks.append(s[i:lt])
        # comment?
        if s.startswith("<!--", lt):
            end = s.find("-->", lt + 4)
            i = n if end < 0 else end + 3
            continue
        # CDATA / doctype / other markup declarations
        if s.startswith("<!", lt) or s.startswith("<?", lt):
            if s.startswith("<![CDATA[", lt):
                end = s.find("]]>", lt + 9)
                i = n if end < 0 else end + 3
            else:
                end = s.find(">", lt)
                i = n if end < 0 else end + 1
            continue
        closing = s.startswith("</", lt)
        m = _TAG_NAME.match(s, lt + (2 if closing else 1))
        if not m:
            # HTML5 less-than-sign-in-data: a '<' that opens nothing is text
            chunks.append("<")
            i = lt + 1
            continue
        name = m.group(0).lower()
        gt = _find_tag_end(s, m.end())
        if gt < 0:  # unclosed tag at EOF: drop the fragment
            break
        i = gt + 1
        if not closing and name in _RAW_TEXT:
            # RAWTEXT: only the literal end tag closes the element
            close = re.compile(rf"</{name}\s*>", re.IGNORECASE).search(s, i)
            i = n if close is None else close.end()
            if name in _BLOCK:
                chunks.append("\n")
            continue
        if name in _BLOCK:
            chunks.append("\n")
    # assemble: entity-decode text nodes; whitespace-only nodes at a
    # BLOCK boundary are markup indentation and drop, but an in-flow
    # whitespace node between inline tags is a real word separator and
    # collapses to one space ('a<b> </b>c' -> 'a c', not 'ac' — the
    # round-12 self-review case); marker runs collapse to one newline
    parts: list[str] = []
    pending_break = False
    pending_space = False
    for c in chunks:
        if c == "\n":
            pending_break = True
            pending_space = False
            continue
        text = _htmlmod.unescape(c)
        if not text.strip():
            if parts and not pending_break and text:
                pending_space = True
            continue
        if pending_break and parts:
            parts.append("\n")
        elif pending_space:
            parts.append(" ")
        pending_break = False
        pending_space = False
        parts.append(text)
    return "".join(parts).strip()


def _find_tag_end(s: str, pos: int) -> int:
    """Index of the ``>`` closing a tag whose name ends at ``pos`` —
    quote-aware so ``<a title="a>b">`` parses (the tokenizer's
    attribute-value states, reduced)."""
    n = len(s)
    quote = None
    while pos < n:
        ch = s[pos]
        if quote is not None:
            if ch == quote:
                quote = None
        elif ch in ('"', "'"):
            quote = ch
        elif ch == ">":
            return pos
        pos += 1
    return -1


def html_page_fixture(did: int, text: str) -> str:
    """The deterministic page skeleton the HTML fixture keys share (see
    multimodal.with_html_payload for the trap inventory — RAWTEXT
    script, comment, indentation, inline <em>, numeric reference);
    :func:`html_to_text` recovers ``text`` byte-exactly."""
    esc = _htmlmod.escape(text)
    head, sep, tail = esc.partition(" ")
    body = f"{head}&#32;<em>{tail}</em>" if sep else esc
    return (
        "<!DOCTYPE html>\n<html>\n <head>\n"
        f"  <script>var x = '<p>{int(did)}</p>';</script>\n"
        "  <style>body { color: #000; }</style>\n"
        " </head>\n"
        f" <!-- doc {int(did)} -->\n"
        " <body>\n  <div>\n"
        f"   <p>{body}</p>\n"
        "  </div>\n </body>\n</html>\n"
    )


# ---------------------------------------------------------------------------
# Main-content extraction (round 13): jusText-class block classification
# (Pomikalek 2011) — segment at block-level tags, score each block's
# link density and stopword density, keep the content blocks. This is
# the boilerplate-removal pass between WET extraction and curation:
# nav bars, sidebars, footers and cookie banners are link-dense or
# function-word-free, article prose is neither.
# ---------------------------------------------------------------------------


def html_blocks(payload: "bytes | str") -> list[dict]:
    """Segment an HTML document into text BLOCKS at block-level tags,
    tracking per block: assembled text (same whitespace/entity rules
    as html_to_text), word count, character count, and the characters
    inside ``<a>`` anchors (the link-density numerator). Empty blocks
    (markup indentation) are dropped."""
    s = (
        payload.decode("utf-8", "replace")
        if isinstance(payload, (bytes, bytearray))
        else payload
    )
    n = len(s)
    i = 0
    blocks: list[dict] = []
    parts: list[str] = []
    link_chars = 0
    anchor_depth = 0
    pending_space = False

    def _flush() -> None:
        nonlocal parts, link_chars, pending_space
        text = "".join(parts)
        if text.strip():
            blocks.append(
                {
                    "text": text,
                    "n_words": len(text.split()),
                    "n_chars": len(text),
                    "link_chars": link_chars,
                }
            )
        parts = []
        link_chars = 0
        pending_space = False

    def _text_node(raw: str) -> None:
        nonlocal pending_space, link_chars
        text = _htmlmod.unescape(raw)
        if not text.strip():
            # in-flow whitespace between inline tags separates words;
            # indentation at a block edge does not
            if parts and text:
                pending_space = True
            return
        nonlocal_parts_append(text)

    def nonlocal_parts_append(text: str) -> None:
        nonlocal pending_space, link_chars
        if pending_space:
            parts.append(" ")
            pending_space = False
        parts.append(text)
        if anchor_depth > 0:
            link_chars += len(text)

    while i < n:
        lt = s.find("<", i)
        if lt < 0:
            _text_node(s[i:])
            break
        if lt > i:
            _text_node(s[i:lt])
        if s.startswith("<!--", lt):
            end = s.find("-->", lt + 4)
            i = n if end < 0 else end + 3
            continue
        if s.startswith("<!", lt) or s.startswith("<?", lt):
            if s.startswith("<![CDATA[", lt):
                end = s.find("]]>", lt + 9)
                i = n if end < 0 else end + 3
            else:
                end = s.find(">", lt)
                i = n if end < 0 else end + 1
            continue
        closing = s.startswith("</", lt)
        m = _TAG_NAME.match(s, lt + (2 if closing else 1))
        if not m:
            _text_node("<")
            i = lt + 1
            continue
        name = m.group(0).lower()
        gt = _find_tag_end(s, m.end())
        if gt < 0:
            break
        i = gt + 1
        if not closing and name in _RAW_TEXT:
            close = re.compile(rf"</{name}\s*>", re.IGNORECASE).search(s, i)
            i = n if close is None else close.end()
            if name in _BLOCK:
                _flush()
            continue
        if name == "a":
            anchor_depth = max(0, anchor_depth - 1) if closing else anchor_depth + 1
            continue
        if name in _BLOCK:
            _flush()
    _flush()
    return blocks


def classify_blocks(
    blocks: list[dict],
    stopwords: frozenset[str],
    max_link_density_num: int = 1,
    max_link_density_den: int = 3,
    length_low: int = 5,
    stop_num: int = 1,
    stop_den: int = 4,
) -> list[str]:
    """jusText-class two-pass classification. Context-free: a block
    whose linked characters reach ``max_link_density`` (default 1/3)
    is ``bad``; fewer than ``length_low`` words is ``short``; stopword
    density at or above ``stop_num/stop_den`` (default 1/4) is
    ``good``; else ``bad``. Context pass: each ``short`` block takes
    ``good`` iff its nearest NON-short neighbor on either side is
    good (the header/footnote rule). All thresholds are INTEGER
    cross-multiplications so the SQL oracle is drift-free.
    Simplification, documented: one stopword threshold instead of
    jusText's neargood band, and no h-tag special case."""
    ctx_free: list[str] = []
    for b in blocks:
        if b["n_chars"] > 0 and b["link_chars"] * max_link_density_den >= (
            b["n_chars"] * max_link_density_num
        ):
            ctx_free.append("bad")
        elif b["n_words"] < length_low:
            ctx_free.append("short")
        else:
            stops = sum(1 for w in b["text"].split() if w.lower() in stopwords)
            ctx_free.append(
                "good" if stops * stop_den >= b["n_words"] * stop_num else "bad"
            )
    final = list(ctx_free)
    for k, c in enumerate(ctx_free):
        if c != "short":
            continue
        neigh = []
        for j in range(k - 1, -1, -1):
            if ctx_free[j] != "short":
                neigh.append(ctx_free[j])
                break
        for j in range(k + 1, len(ctx_free)):
            if ctx_free[j] != "short":
                neigh.append(ctx_free[j])
                break
        final[k] = "good" if "good" in neigh else "bad"
    return final


def html_main_text(payload: "bytes | str", stopwords: frozenset[str]) -> str:
    """The retained MAIN content of a page: blocks classified good,
    joined by newlines (the jusText output shape)."""
    blocks = html_blocks(payload)
    classes = classify_blocks(blocks, stopwords)
    return "\n".join(b["text"] for b, c in zip(blocks, classes) if c == "good")


def main_content_page_fixture(did: int, text: str, words_per_block: int = 12) -> str:
    """A realistic page around a document's words: link-dense nav /
    sidebar / footer, a short heading, a stopword-free cookie banner,
    and the document text as 12-word paragraphs — constructed so the
    retained main content is EXACTLY the good paragraphs (every
    boilerplate block is link-dense, short-with-bad-neighbors, or
    function-word-free)."""
    words = text.split()
    paras = "\n  ".join(
        f"<p>{_htmlmod.escape(' '.join(words[k : k + words_per_block]))}</p>"
        for k in range(0, len(words), words_per_block)
    )
    return (
        "<!DOCTYPE html>\n<html>\n<head>\n"
        f" <title>doc {int(did)}</title>\n"
        f" <script>var nav = '<p>menu {int(did)}</p>';</script>\n"
        " <style>nav { color: #333; }</style>\n"
        "</head>\n<body>\n"
        " <nav><ul>\n"
        '  <li><a href="/">home page of the site</a></li>\n'
        f'  <li><a href="/archive">archive for doc {int(did)}</a></li>\n'
        '  <li><a href="/about">about the data team</a></li>\n'
        " </ul></nav>\n"
        f" <h1>Document {int(did)}</h1>\n"
        ' <div class="banner">cookies consent preferences tracking'
        " settings accept disable manage</div>\n"
        " <article>\n"
        f"  {paras}\n"
        " </article>\n"
        ' <aside><a href="/rel">related content for readers</a>'
        ' <a href="/top">trending in the archive</a></aside>\n'
        ' <footer><a href="/privacy">privacy policy</a>'
        ' <a href="/terms">terms</a> (c) site</footer>\n'
        "</body>\n</html>\n"
    )
