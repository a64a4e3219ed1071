"""HTML main-content extraction: DOM-node text-density boilerplate strip
(north_star: "HTML boilerplate stripping via DOM-node density
heuristics").

The reference has no HTML path (it is PDF-only, docling-pdf
`main.py:102`); the north_rule adds interleaved HTML payloads. The
heuristic here is the published Boilerpipe family (Kohlschütter et al.,
"Boilerplate Detection using Shallow Text Features", WSDM 2010):

  * subtrees under structural-chrome tags (nav/header/footer/aside,
    plus script/style) are dropped wholesale;
  * block-level elements are kept iff they carry enough text
    (>= MIN_BLOCK_TEXT chars after whitespace-collapse) and are not
    link-dense (anchor-chars / total-chars <= MAX_LINK_DENSITY);
  * <table> elements become table blocks (rows joined by newline,
    cells by ' | ') — the analog of the reference's docling table
    items (pdf_extractor.py:395-401);
  * <img> elements become image blocks carrying src as media_ref —
    the analog of docling picture items (pdf_extractor.py:404-410).

Pure stdlib (html.parser), no Spark imports; shared by oracle and UDF.
"""

from __future__ import annotations

from dataclasses import dataclass
from html.parser import HTMLParser

from docling_pdf_spark.conf import (
    BLOCK_TAGS,
    DROP_TAGS,
    MAX_LINK_DENSITY,
    MIN_BLOCK_TEXT,
)

@dataclass
class HtmlBlock:
    kind: str  # 'text' | 'table' | 'image'
    text: str
    media_ref: str | None = None


def _collapse(s: str) -> str:
    return " ".join(s.split())


class _Extractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[HtmlBlock] = []
        self._drop_depth = 0
        self._anchor_depth = 0
        # innermost-block buffer stack: [text_parts, link_chars]
        self._stack: list[tuple[list[str], list[int]]] = []
        # table state
        self._table_depth = 0
        self._rows: list[list[str]] = []
        self._cell: list[str] | None = None

    # -- tag events ------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in DROP_TAGS:
            self._drop_depth += 1
            return
        if self._drop_depth:
            return
        if tag == "img":
            d = dict(attrs)
            alt = _collapse(d.get("alt") or "")
            src = d.get("src") or None
            self.blocks.append(HtmlBlock("image", alt, src))
            return
        if tag == "table":
            self._table_depth += 1
            if self._table_depth == 1:
                self._rows = []
            return
        if self._table_depth:
            if tag == "tr":
                self._rows.append([])
            elif tag in ("td", "th"):
                self._cell = []
            return
        if tag == "a":
            self._anchor_depth += 1
        if tag in BLOCK_TAGS:
            self._stack.append(([], [0]))

    def handle_endtag(self, tag: str) -> None:
        if tag in DROP_TAGS:
            self._drop_depth = max(0, self._drop_depth - 1)
            return
        if self._drop_depth:
            return
        if tag == "table":
            if self._table_depth == 1:
                text = "\n".join(
                    " | ".join(cell for cell in row) for row in self._rows if row
                )
                if text.strip():
                    self.blocks.append(HtmlBlock("table", text))
                self._rows = []
            self._table_depth = max(0, self._table_depth - 1)
            return
        if self._table_depth:
            if tag in ("td", "th") and self._cell is not None:
                row = self._rows[-1] if self._rows else None
                if row is None:
                    self._rows.append([])
                    row = self._rows[-1]
                row.append(_collapse(" ".join(self._cell)))
                self._cell = None
            return
        if tag == "a":
            self._anchor_depth = max(0, self._anchor_depth - 1)
        if tag in BLOCK_TAGS and self._stack:
            parts, link = self._stack.pop()
            text = _collapse(" ".join(parts))
            if not text:
                return
            density = link[0] / max(1, len(text))
            if len(text) >= MIN_BLOCK_TEXT and density <= MAX_LINK_DENSITY:
                self.blocks.append(HtmlBlock("text", text))

    # -- text events -----------------------------------------------
    def handle_data(self, data: str) -> None:
        if self._drop_depth or not data.strip():
            return
        if self._table_depth:
            if self._cell is not None:
                self._cell.append(data)
            return
        if self._stack:
            parts, link = self._stack[-1]
            parts.append(data)
            if self._anchor_depth:
                link[0] += len(_collapse(data))


# ---------------------------------------------------------------------
# fast tokenizer: a compiled-regex scanner that drives the SAME
# _Extractor state machine as stdlib html.parser. ~4× faster (the
# stdlib tokenizer dominated extraction CPU); the stdlib path is kept
# and equivalence tests (corpus + 120k-soup fuzz) pin both to identical
# output.
# ---------------------------------------------------------------------

import re
from html import unescape as _unescape_entities

# tokenization fidelity: reuse html.parser's OWN compiled tolerant
# regexes AND its exact goahead()/parse_* control flow, so malformed
# markup tokenizes byte-identically to the stdlib path — the speedup
# comes from replacing the per-character goahead() event loop with one
# regex scan per construct, not from different grammar rules.
from html import parser as _hp

_COMMENT_CLOSE = re.compile(r"--\s*>")  # _markupbase._commentclose
_MARKED_CLOSE = re.compile(r"]\s*]\s*>")  # _markupbase._markedsectionclose
_MS_MARKED_CLOSE = re.compile(r"]\s*>")  # _markupbase._msmarkedsectionclose
_DECLNAME = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")  # _declname_match
# set_cdata_mode's `interesting`: the FULL close tag including '>' —
# '</script<' or '</script foo>' inside script is plain cdata data
_RAWTEXT_CLOSE = {
    "script": re.compile(r"</\s*script\s*>", re.I),
    "style": re.compile(r"</\s*style\s*>", re.I),
}
_ASCII_LETTERS = frozenset("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")
# check_for_whole_start_tag's "end of input in or before attr value" set
_STARTTAG_CONT = frozenset("abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ")


def _emit_data(machine: _Extractor, text: str) -> None:
    if text:
        machine.handle_data(_unescape_entities(text) if "&" in text else text)


def _eof_recover(machine: _Extractor, html: str, i: int, unesc: bool = True) -> int:
    """stdlib goahead() recovery for an unparseable construct (k<0
    branch with end=1): emit data up to the first '>' (else next '<',
    else one char) and resume there. convert_charrefs=True means the
    emitted chunk IS unescaped — except in cdata mode (unesc=False)."""
    gt = html.find(">", i + 1)
    if gt >= 0:
        k = gt + 1
    else:
        lt2 = html.find("<", i + 1)
        k = lt2 if lt2 >= 0 else i + 1
    if unesc:
        _emit_data(machine, html[i:k])
    else:
        machine.handle_data(html[i:k])
    return k


def _do_starttag(machine: _Extractor, html: str, i: int) -> tuple[int, str | None]:
    """parse_starttag + check_for_whole_start_tag, exactly.
    Returns (next_pos, cdata_elem or None); next_pos<0 → EOF recovery."""
    m = _hp.locatestarttagend_tolerant.match(html, i)
    j = m.end()
    nxt = html[j : j + 1]
    if nxt == ">":
        endpos = j + 1
    elif nxt == "/":
        if html.startswith("/>", j):
            endpos = j + 2
        else:
            return -1, None  # stdlib: buffer boundary → k<0 recovery
    elif nxt == "":
        return -1, None
    elif nxt in _STARTTAG_CONT:
        return -1, None  # end of input in/before attribute value
    else:
        endpos = j if j > i else i + 1  # bogus input
    tm = _hp.tagfind_tolerant.match(html, i + 1)
    tag = tm.group(1).lower()
    k = tm.end()
    attrs: list[tuple[str, str | None]] = []
    want_attrs = tag == "img"  # attrs only materialized where consumed
    if nxt == ">" and not html[k:j].strip():
        # no-attr fast path (most tags): attrfind's lookbehind can never
        # match right after the tag name, so the loop is a provable no-op
        # and endstr is exactly '>'
        machine.handle_starttag(tag, attrs)
        return endpos, (tag if tag in _RAWTEXT_CLOSE else None)
    while k < endpos:
        am = _hp.attrfind_tolerant.match(html, k)
        if not am:
            break
        if want_attrs:
            name, rest, val = am.group(1, 2, 3)
            if not rest:
                val = None
            elif val[:1] == "'" == val[-1:] or val[:1] == '"' == val[-1:]:
                val = val[1:-1]
            if val:
                val = _unescape_entities(val)
            attrs.append((name.lower(), val))
        k = am.end()
    endstr = html[k:endpos].strip()
    if endstr not in (">", "/>"):
        machine.handle_data(html[i:endpos])  # RAW: stdlib does not unescape here
        return endpos, None
    if endstr == "/>":
        machine.handle_starttag(tag, attrs)  # handle_startendtag default
        machine.handle_endtag(tag)
        return endpos, None
    machine.handle_starttag(tag, attrs)
    return endpos, (tag if tag in _RAWTEXT_CLOSE else None)


def _do_endtag(machine: _Extractor, html: str, i: int) -> int:
    """parse_endtag (non-cdata), exactly. Returns next_pos; <0 → EOF
    recovery."""
    gtm = _hp.endendtag.search(html, i + 1)
    if not gtm:
        return -1
    gtpos = gtm.end()
    m = _hp.endtagfind.match(html, i)
    if m:
        machine.handle_endtag(m.group(1).lower())
        return gtpos
    nm = _hp.tagfind_tolerant.match(html, i + 2)
    if nm:
        # tolerant name: '</li attr>' fires endtag('li'), consumed
        # through the first '>' after the name
        machine.handle_endtag(nm.group(1).lower())
        return html.find(">", nm.end()) + 1
    if html[i : i + 3] == "</>":
        return i + 3
    p = html.find(">", i + 2)  # parse_bogus_comment (comment event unused)
    return (p + 1) if p != -1 else -1


def _do_declaration(html: str, i: int) -> int:
    """parse_html_declaration for non-comment '<!' constructs.
    Returns next_pos; <0 → EOF recovery. Unknown marked-section
    keywords raise exactly like _markupbase (extract_html salvages)."""
    if html[i : i + 3] == "<![":
        nm = _DECLNAME.match(html, i + 3)
        if not nm:
            raise AssertionError(
                "expected name token at %r" % html[i : i + 20]
            )
        if nm.end() == len(html):
            return -1  # _scan_name: name runs to end of buffer
        name = nm.group().strip().lower()
        if name in ("temp", "cdata", "ignore", "include", "rcdata"):
            cm = _MARKED_CLOSE.search(html, i + 3)
        elif name in ("if", "else", "endif"):
            cm = _MS_MARKED_CLOSE.search(html, i + 3)
        else:
            raise AssertionError(
                "unknown status keyword %r in marked section" % html[i + 3 : nm.end()]
            )
        return cm.end() if cm else -1
    if html[i : i + 9].lower() == "<!doctype":
        p = html.find(">", i + 9)
        return (p + 1) if p != -1 else -1
    p = html.find(">", i + 2)  # parse_bogus_comment
    return (p + 1) if p != -1 else -1


def _fast_feed(machine: _Extractor, html: str) -> None:  # noqa: C901
    pos = 0
    n = len(html)
    cdata_elem: str | None = None
    while pos < n:
        if cdata_elem:
            cm = _RAWTEXT_CLOSE[cdata_elem].search(html, pos)
            if cm is None:
                return  # stdlib: cdata content at EOF is DROPPED
            if cm.start() > pos:
                machine.handle_data(html[pos : cm.start()])  # raw in cdata
            machine.handle_endtag(cdata_elem)
            cdata_elem = None
            pos = cm.end()
            continue
        lt = html.find("<", pos)
        if lt < 0:
            _emit_data(machine, html[pos:])
            return
        if lt > pos:
            _emit_data(machine, html[pos:lt])
        pos = lt
        nxt = html[lt + 1 : lt + 2]
        if nxt in _ASCII_LETTERS:  # starttagopen
            k, cdata_elem = _do_starttag(machine, html, lt)
            pos = _eof_recover(machine, html, lt) if k < 0 else k
            continue
        if nxt == "/":
            k = _do_endtag(machine, html, lt)
            pos = _eof_recover(machine, html, lt) if k < 0 else k
            continue
        if nxt == "!":
            if html.startswith("<!--", lt):
                m = _COMMENT_CLOSE.search(html, lt + 4)
                pos = m.end() if m else _eof_recover(machine, html, lt)
            else:
                k = _do_declaration(html, lt)
                pos = _eof_recover(machine, html, lt) if k < 0 else k
            continue
        if nxt == "?":
            m = _hp.piclose.search(html, lt + 2)
            pos = m.end() if m else _eof_recover(machine, html, lt)
            continue
        if lt + 1 < n:  # bare '<' in text
            machine.handle_data("<")
            pos = lt + 1
        else:
            _emit_data(machine, html[lt:])  # final flush unescapes
            return


def extract_html(html: str, engine: str = "fast") -> list[HtmlBlock]:
    """Parse one HTML payload into ordered content blocks.

    Emission order = document order of block-close / img / table-close
    events — deterministic for any input; never raises (mirroring the
    reference's never-crash stance, pdf_extractor.py:357-369).

    engine='fast' (default): regex tokenizer; engine='stdlib':
    html.parser tokenizer. Both drive the identical state machine and
    are pinned equal on the corpus by tests.
    """
    p = _Extractor()
    try:
        if engine == "fast":
            _fast_feed(p, html or "")
        else:
            p.feed(html or "")
            p.close()
    except Exception:
        pass  # salvage whatever was emitted before the failure
    return p.blocks
