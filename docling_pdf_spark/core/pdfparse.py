"""From-scratch minimal PDF text extractor with a strict→lenient→raw
rung ladder (SURVEY.md §2a X5/X8/X9).

The reference achieves robustness with a backend retry ladder
(docling-pdf `pdf_extractor.py:694-739`: pypdfium2 → dlparse_v1 →
dlparse_v2) and a final PyMuPDF fallback (`pdf_extractor.py:473-576`).
Neither library is a dependency here; this module re-creates the
*semantics* — "first rung that succeeds wins, record which" — over a
self-contained parser of the uncompressed PDF subset our corpus uses:

  strict   — full object-graph walk (trailer → catalog → pages → kids →
             content streams), real page boundaries and /MediaBox
             geometry; invalid boxes repaired to A4 595×842 exactly as
             the reference does (`pdf_extractor.py:668-671`).
  lenient  — regex scan for BT…ET text ops per content stream, stream
             order = page order (object graph ignored).
  raw      — printable literal-string sieve over the raw bytes; one
             synthetic page; analog of the reference's last-resort
             fallback shape (`pdf_extractor.py:555-564`).

Reading order within a page = sort text boxes by (-y, x): top-to-bottom
(PDF y grows up), then left-to-right — the layout-block detection the
north_star names. Pure Python, no Spark imports; shared by the serial
oracle and the Spark UDF.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from docling_pdf_spark.conf import A4_HEIGHT, A4_WIDTH, RUNG_LENIENT, RUNG_RAW, RUNG_STRICT


class StrictParseError(Exception):
    """Strict rung cannot resolve the object graph."""


class LenientParseError(Exception):
    """Lenient rung found no text operators."""


@dataclass
class Page:
    number: int  # 1-based
    width: float
    height: float
    valid_dims: bool
    boxes: list[tuple[float, float, str]] = field(default_factory=list)  # (x, y, text)
    n_images: int = 0

    def reading_order_text(self) -> str:
        """Layout-block detection: reading-order sort by (-y, x).

        Re-creates what docling's layout model produces for simple
        single/multi-column pages (the behavior behind
        `pdf_extractor.py:197` converter.convert); ties broken by x then
        original index for determinism.
        """
        order = sorted(
            range(len(self.boxes)),
            key=lambda i: (-self.boxes[i][1], self.boxes[i][0], i),
        )
        return "\n".join(self.boxes[i][2] for i in order)


@dataclass
class ParsedPdf:
    rung: str
    pages: list[Page]
    encrypted: bool = False
    needs_password: bool = False  # reference pdf_extractor.py:591-612
    metadata: dict[str, str] = field(default_factory=dict)  # full Info dict, :596
    pages_with_valid_dimensions: int = 0


_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b(.*?)endobj", re.S)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.S)
# PDF literal-string BODY, bounded nesting: ISO 32000-1 §7.3.4.2 allows
# BALANCED unescaped parentheses inside a literal string, so the body
# pattern admits nested (...) groups down to depth 2 (regexes can't
# recurse; depth >2 in page text is exotic — typical producers escape
# parens — and degrades to the old truncation, never a crash). Kept in
# regex (C speed) because _text_boxes is the UDF hot path.
_LIT0 = rb"(?:\\.|[^\\()])*"
_LIT1 = rb"(?:\\.|\(" + _LIT0 + rb"\)|[^\\()])*"
_LITBODY = rb"(?:\\.|\(" + _LIT1 + rb"\)|[^\\()])*"
# the block body consumes literal strings ATOMICALLY so a page text
# containing the bare token 'ET' (hypothesis-found) or nested parens
# (review-found: '(a(b)c)' dropped the whole block) cannot terminate
# the BT...ET scan early or stop the string match short
_BT_RE = re.compile(rb"BT\b((?:\(" + _LITBODY + rb"\)|[^(])*?)\bET", re.S)
_DO_RE = re.compile(rb"/\w+\s+Do\b")
_REF_RE = re.compile(rb"(\d+)\s+0\s+R")
_MEDIABOX_RE = re.compile(rb"/MediaBox\s*\[([^\]]*)\]")
_LITSTR_RE = re.compile(rb"\(((?:\\.|\(" + _LIT1 + rb"\)|[^\\()]){2,})\)")

_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _unescape(raw: bytes) -> str:
    """Decode a PDF literal string body (escapes + octal) to text."""
    return _unescape_bytes(raw).decode("utf-8", errors="replace")


def _unescape_bytes(raw: bytes) -> bytes:
    """Decode a PDF literal string body to raw bytes (no text decode)."""
    if b"\\" not in raw:  # fast path: nothing escaped
        return raw
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        c = raw[i : i + 1]
        if c == b"\\" and i + 1 < n:
            nxt = raw[i + 1 : i + 2]
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                i += 2
                continue
            if nxt.isdigit():  # octal \ddd
                j = i + 1
                while j < min(i + 4, n) and raw[j : j + 1].isdigit():
                    j += 1
                out.append(int(raw[i + 1 : j], 8) & 0xFF)
                i = j
                continue
            i += 1  # lone backslash: drop (PDF spec)
            continue
        out += c
        i += 1
    return bytes(out)


# these string bodies use the same nesting-aware _LITBODY as the text
# ops (defined above): an Info value like '(Acme (TM) Writer)' or a /U
# with balanced parens is spec-legal (ISO 32000-1 §7.3.4.2) — a flat
# body would silently drop the entry (second-review finding)
_U_RE = re.compile(rb"/U\s*\((" + _LITBODY + rb")\)")
_ENCRYPT_REF_RE = re.compile(rb"/Encrypt\s+(\d+)\s+(\d+)\s+R")
_INFO_REF_RE = re.compile(rb"/Info\s+(\d+)\s+(\d+)\s+R")
_INFO_ENTRY_RE = re.compile(rb"/(\w+)\s*\((" + _LITBODY + rb")\)")


def _strip_stream_bodies(data: bytes) -> bytes:
    """Object-scan preimage for METADATA resolution (Info dict, encrypt
    dict): stream payloads blanked so object-syntax bytes inside page
    CONTENT ('8 0 obj << /Producer (Spoof) >> endobj' in a document
    about PDF internals) can never satisfy a trailer-referenced object
    lookup — whole-round-review finding: the last-wins scan protected
    against earlier spoofs (updates append) but not against page bytes
    positioned after the real object. One C-speed regex pass; the text
    extractor keeps reading the real stream bodies, this preimage is
    metadata-only."""
    return _STREAM_RE.sub(b"stream\nendstream", data)


def encryption_flags(data: bytes) -> tuple[bool, bool]:
    """(encrypted, needs_password) — the reference's two distinct flags
    (docling-pdf pdf_extractor.py:591-612: is_encrypted vs needs_pass).

    Detection is scoped: the /Encrypt entry must sit in the TRAILER
    dictionary, or — for PDF 1.5+ cross-reference-stream files and
    trailer-truncated damage, which have no 'trailer' keyword — appear
    as a full `/Encrypt N G R` reference (the bare token in page text
    never has the indirect-reference syntax, so the round-1
    whole-stream false positive stays fixed). The /U entry is then read
    from the LAST `N G obj` match (incremental updates append; content
    bytes that fake the header earlier in the file cannot shadow it):
    a standard-security PDF whose USER password is empty derives /U
    from the ISO 32000-1 §7.6.3.3 padding constant; a /U that differs
    (or is absent) means a password is required."""
    from docling_pdf_spark.core.pdfgen import PDF_PAD

    if data.find(b"/Encrypt") < 0:
        return False, False  # memchr prefilter before the strip pass
    # ALL metadata resolution below runs on the stream-stripped
    # preimage (r3 ADVICE): rfind(b"trailer") on raw bytes can land on
    # the word 'trailer' inside the LAST page's content stream of an
    # xref-stream PDF, which would re-scope the /Encrypt lookup to page
    # text. Stripping preserves every dictionary portion, so the real
    # trailer / encrypt object are unaffected.
    stripped = _strip_stream_bodies(data)
    trailer_at = stripped.rfind(b"trailer")
    if trailer_at >= 0:
        scope_for_ref = stripped[trailer_at:]
        if b"/Encrypt" not in scope_for_ref:
            return False, False
    else:
        scope_for_ref = stripped  # xref-stream PDF: no trailer keyword
    ref = _ENCRYPT_REF_RE.search(scope_for_ref)
    if ref is None:
        if trailer_at < 0:
            return False, False  # bare '/Encrypt' tokens don't count here
        scope = scope_for_ref  # inline encrypt dictionary in the trailer
    else:
        obj_re = re.compile(
            rb"(?<![0-9])" + ref.group(1) + rb"\s+" + ref.group(2) + rb"\s+obj\b(.*?)endobj",
            re.S,
        )
        last = None
        for m_obj in obj_re.finditer(stripped):
            last = m_obj
        scope = last.group(1) if last else b""
    m = _U_RE.search(scope)
    needs = m is None or _unescape_bytes(m.group(1)) != PDF_PAD
    return True, needs


def info_dict(data: bytes) -> dict[str, str]:
    """The document-information dictionary (reference pdf_extractor.py:596
    stores PyMuPDF's whole metadata map): every `/Key (string)` entry of
    the object the trailer's /Info reference resolves to.

    Scoped exactly like encryption_flags (round-2 ADVICE: the old
    whole-stream '/Producer (...)' scan reported page TEXT that merely
    mentions the token as document metadata): the /Info N G R reference
    must sit in the trailer (or, for xref-stream files with no 'trailer'
    keyword, anywhere as a full indirect reference), and the values are
    read from the LAST matching `N G obj` body — incremental updates
    append, so content bytes cannot shadow the real Info object.

    bytes.find prefilter first (memchr, ~10× a regex scan on the common
    no-Info payload — the same measured-12% lesson as the old sniff)."""
    if data.find(b"/Info") < 0:
        return {}
    # one strip pass up front; every lookup below — trailer keyword,
    # /Info reference, XRef-object scan, Info-object resolution — runs
    # on the stream-stripped preimage (r3 ADVICE ×2: raw-byte rfind can
    # hit 'trailer' inside a content stream, and a decoy object spliced
    # INSIDE a stream body — after an 'endobj' token in that body —
    # previously satisfied the xref-object scan and hijacked /Info
    # resolution for trailer-less files). Dict portions survive
    # stripping unchanged, so real metadata is unaffected.
    stripped = _strip_stream_bodies(data)
    trailer_at = stripped.rfind(b"trailer")
    if trailer_at >= 0:
        ref = _INFO_REF_RE.search(stripped[trailer_at:])
    else:
        # xref-stream PDF (no 'trailer' keyword): the trailer entries
        # live in the /Type /XRef stream object's dictionary — scope the
        # /Info lookup to the LAST such object body. Scanning the whole
        # byte stream here would reintroduce the page-text
        # false-positive class this function exists to eliminate
        # (review-found).
        ref = None
        for m_obj in _OBJ_RE.finditer(stripped):
            # only the object's DICTIONARY portion counts: a page whose
            # stream DATA merely mentions '/Type /XRef ... /Info N G R'
            # (a document about PDF internals) must not be resolved as
            # metadata (second-review finding). A real XRef stream dict
            # also carries the mandatory /W array (ISO 32000-1 §7.5.8.2).
            dict_part = m_obj.group(2).split(b"stream", 1)[0]
            if re.search(rb"/Type\s*/XRef\b", dict_part) and b"/W" in dict_part:
                r = _INFO_REF_RE.search(dict_part)
                if r is not None:
                    ref = r  # incremental updates append: last wins
    if ref is None:
        return {}
    obj_re = re.compile(
        rb"(?<![0-9])" + ref.group(1) + rb"\s+" + ref.group(2) + rb"\s+obj\b(.*?)endobj",
        re.S,
    )
    last = None
    # same stripped preimage: page-content bytes spelling
    # 'N G obj ... endobj' can neither shadow nor spoof the Info object
    for m_obj in obj_re.finditer(stripped):
        last = m_obj
    if last is None:
        return {}
    return {
        m.group(1).decode("ascii", errors="replace"): _unescape(m.group(2))
        for m in _INFO_ENTRY_RE.finditer(last.group(1))
    }


_OP_RE = re.compile(
    rb"([-\d.]+)\s+([-\d.]+)\s+Td"           # position op
    rb"|\((" + _LITBODY + rb")\)\s*Tj"       # show-text op (nesting-aware)
    # any OTHER literal string consumed atomically (no capture): a
    # string operand of e.g. Tw containing '1 2 Td' must not leak a
    # phantom position op from inside its body (second-review finding)
    rb"|\(" + _LITBODY + rb"\)"
)

# FLAT fallbacks for streams whose parens don't balance (malformed /
# truncated crawl PDFs): on such streams the nesting-aware patterns can
# swallow text across block boundaries (one unbalanced '(' turns the
# rest of the stream into a 'string', whole-round-review finding), so
# the parser degrades to the round-2 flat behavior — strings truncate
# at the first unescaped ')', but no block is merged away.
_BT_FLAT_RE = re.compile(rb"BT\b((?:\((?:\\.|[^\\()])*\)|[^(])*?)\bET", re.S)
_OP_FLAT_RE = re.compile(
    rb"([-\d.]+)\s+([-\d.]+)\s+Td"
    rb"|\(((?:\\.|[^\\()])*)\)\s*Tj"
    rb"|\((?:\\.|[^\\()])*\)"
)


_PAREN_RUN_RE = re.compile(rb"(\\*)([()])")


def _parens_balanced(stream: bytes) -> bool:
    """Exact unescaped-paren balance: each paren is matched with its
    immediately-preceding backslash run; an odd-length run escapes it
    (ISO 32000-1 §7.3.4.2). The old count() arithmetic was two-sided
    wrong on an escaped-backslash-then-paren sequence ('\\\\)' counts
    as the literal pattern '\\)' and subtracted a genuinely unescaped
    close paren), so a truly unbalanced stream could be judged balanced
    and the nesting-aware regex could swallow later BT..ET blocks — the
    failure mode the flat fallback exists to prevent (r3 ADVICE). Cost
    is one C-speed scan plus a Python step per paren occurrence."""
    if b"\\" not in stream:
        # no escapes possible: plain C-speed counts are exact (the
        # common case — ~6% of serial kernel time was the scan below)
        return stream.count(b"(") == stream.count(b")")
    bal = 0
    for m in _PAREN_RUN_RE.finditer(stream):
        if len(m.group(1)) % 2 == 0:  # even backslash run → unescaped
            bal += 1 if m.group(2) == b"(" else -1
    return bal == 0


def _text_boxes(stream: bytes) -> list[tuple[float, float, str]]:
    """Extract (x, y, text) boxes from one content stream — single pass
    over Td/Tj ops in order (each Tj takes the last Td before it).
    Nesting-aware string handling on balanced streams; flat fallback on
    unbalanced ones (see _BT_FLAT_RE)."""
    balanced = _parens_balanced(stream)
    bt_re = _BT_RE if balanced else _BT_FLAT_RE
    op_re = _OP_RE if balanced else _OP_FLAT_RE
    boxes: list[tuple[float, float, str]] = []
    for bt in bt_re.finditer(stream):
        x = y = 0.0
        for m in op_re.finditer(bt.group(1)):
            if m.group(3) is not None:  # Tj
                boxes.append((x, y, _unescape(m.group(3))))
            elif m.group(1) is not None:  # Td
                try:
                    x, y = float(m.group(1)), float(m.group(2))
                except ValueError:
                    pass
            # else: a non-Tj literal string, consumed and ignored
    return boxes


def parse_strict(data: bytes) -> ParsedPdf:
    """Full object-graph parse (the 'docling' analog rung)."""
    objs: dict[int, bytes] = {}
    for m in _OBJ_RE.finditer(data):
        objs[int(m.group(1))] = m.group(2)

    trailer_at = data.rfind(b"trailer")
    trailer = data[trailer_at:] if trailer_at != -1 else b""
    encrypted = b"/Encrypt" in trailer

    root_m = re.search(rb"/Root\s+(\d+)\s+0\s+R", trailer)
    catalog = objs.get(int(root_m.group(1))) if root_m else None
    if catalog is None:  # no trailer root — accept a lone catalog object
        for body in objs.values():
            if b"/Type" in body and b"/Catalog" in body:
                catalog = body
                break
    if catalog is None:
        raise StrictParseError("no catalog")

    pages_m = re.search(rb"/Pages\s+(\d+)\s+0\s+R", catalog)
    if not pages_m or int(pages_m.group(1)) not in objs:
        raise StrictParseError("catalog has no resolvable /Pages")
    pages_obj = objs[int(pages_m.group(1))]

    kids_m = re.search(rb"/Kids\s*\[([^\]]*)\]", pages_obj)
    if not kids_m:
        raise StrictParseError("pages node has no /Kids")
    kid_ids = [int(r.group(1)) for r in _REF_RE.finditer(kids_m.group(1))]

    pages: list[Page] = []
    valid = 0
    for n, kid in enumerate(kid_ids, start=1):
        body = objs.get(kid)
        if body is None:
            raise StrictParseError(f"missing page object {kid}")
        mb = _MEDIABOX_RE.search(body)
        w = h = 0.0
        if mb:
            try:
                nums = [float(v) for v in mb.group(1).split()]
                if len(nums) == 4:
                    w, h = nums[2] - nums[0], nums[3] - nums[1]
            except ValueError:
                pass
        valid_dims = w > 0 and h > 0
        if valid_dims:
            valid += 1
        else:
            # dimension repair: default to A4, exactly the reference's
            # _fix_pdf_page_dimensions default (pdf_extractor.py:668-671)
            w, h = A4_WIDTH, A4_HEIGHT
        page = Page(number=n, width=w, height=h, valid_dims=valid_dims)
        cont_m = re.search(rb"/Contents\s+(\d+)\s+0\s+R", body)
        if cont_m and int(cont_m.group(1)) in objs:
            sm = _STREAM_RE.search(objs[int(cont_m.group(1))])
            if sm:
                stream = sm.group(1)
                page.boxes = _text_boxes(stream)
                page.n_images = len(_DO_RE.findall(stream))
        pages.append(page)

    return ParsedPdf(
        rung=RUNG_STRICT,
        pages=pages,
        encrypted=encrypted,
        pages_with_valid_dimensions=valid,
    )


def parse_lenient(data: bytes) -> ParsedPdf:
    """Regex text-op scan; each content stream in byte order = one page
    (object graph ignored). Analog of the backend retry rung
    (pdf_extractor.py:694-739): degraded but structured."""
    pages: list[Page] = []
    n = 0
    for sm in _STREAM_RE.finditer(data):
        stream = sm.group(1)
        boxes = _text_boxes(stream)
        n_images = len(_DO_RE.findall(stream))
        if not boxes and not n_images:
            continue  # image-data / non-content stream
        n += 1
        pages.append(
            Page(
                number=n,
                width=A4_WIDTH,
                height=A4_HEIGHT,
                valid_dims=False,
                boxes=boxes,
                n_images=n_images,
            )
        )
    if not any(p.boxes for p in pages):
        raise LenientParseError("no text operators found")
    return ParsedPdf(
        rung=RUNG_LENIENT, pages=pages, encrypted=encryption_flags(data)[0]
    )


def parse_raw(data: bytes) -> ParsedPdf:
    """Printable literal-string sieve: every parenthesized string in byte
    order on one synthetic page, no geometry. Shape analog of the
    reference's last-resort fallback (pdf_extractor.py:555-564:
    tables=[], note, real page loop degraded to a single text blob)."""
    texts = []
    for m in _LITSTR_RE.finditer(data):
        s = _unescape(m.group(1))
        if s.strip():
            texts.append(s)
    page = Page(
        number=1,
        width=A4_WIDTH,
        height=A4_HEIGHT,
        valid_dims=False,
        boxes=[(0.0, 0.0, t) for t in texts],  # byte order preserved (y=0 ties)
    )
    return ParsedPdf(rung=RUNG_RAW, pages=[page] if texts else [])


def parse_ladder(data: bytes) -> ParsedPdf:
    """First-success-wins ladder (pdf_extractor.py:694-739 semantics:
    try each rung with a fresh parser, record which one produced the
    result; all-fail propagates). Validation census flags (encryption,
    needs_password, /Info metadata) are set here — the analog of the
    reference's separate _validate_pdf_file pass
    (pdf_extractor.py:591-612)."""
    parsed: ParsedPdf
    try:
        parsed = parse_strict(data)
    except Exception:
        try:
            parsed = parse_lenient(data)
        except Exception:
            parsed = parse_raw(data)
    enc, needs = encryption_flags(data)
    parsed.encrypted = parsed.encrypted or enc
    parsed.needs_password = needs
    # the full /Info map (reference stores the whole map,
    # pdf_extractor.py:596); the producer column reads its /Producer
    parsed.metadata = info_dict(data)
    return parsed
