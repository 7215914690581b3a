"""PDF text extraction from scratch (round 12): the classic PDF file
grammar — header, numbered objects, cross-reference TABLE located via
``startxref`` (20-byte entries, subsections), trailer dict, the
object model (dicts ``<<…>>``, names, numbers, literal strings with
all eight escapes + octal + line continuations, arrays, indirect
references ``N G R``), streams with direct OR indirect ``/Length``,
``FlateDecode`` through ``operators/png`` (RFC 1950 container checks,
stdlib zlib inflate) — and the content-stream text operators (``BT`` /
``ET``, ``Tj``, the ``TJ`` array form with kerning numbers, the ``'``
next-line form, ``Td``/``TD``/``T*`` line moves as word boundaries) —
reader AND a writer for fixtures, nothing imported.

PDF is the single largest "documents" vertical of web crawls and the
wire of the academic-paper corpora (peS2o/S2ORC start from PDFs);
text recovery from born-digital PDFs is exactly this pass: xref →
page tree → content streams → inflate → text-op walk. Round 13 adds
the PDF 1.5 layout post-2005 files actually use: cross-reference
STREAMS (``/W`` field widths, multi-subsection ``/Index``, ``/Prev``
chains, FlateDecode + PNG predictors via ``/DecodeParms``), type-2
entries into ``/ObjStm`` OBJECT streams (``/N``/``/First`` header
pairs), hybrid-reference files (classic trailer ``/XRefStm``), and
free-entry tombstones so an incremental update's deletion cannot be
resurrected from an older revision. Round 14 adds font-encoding-aware
show-string decode: embedded ``/ToUnicode`` CMap streams (ISO
32000-1 §9.10.3 — codespacerange widths, bfchar pairs, bfrange with
both the incrementing-destination and per-code array forms), simple
fonts' ``/Encoding`` dictionaries (``/BaseEncoding`` WinAnsi /
MacRoman tables plus ``/Differences`` glyph-name remaps resolved
through the Adobe Glyph List conventions incl. the algorithmic
``uniXXXX``/``uXXXXXX`` forms), and ``/Identity-H`` Type0 composite
fonts whose 2-byte codes map through their ToUnicode CMap. Subset-
embedded fonts are the real-world norm (show-string bytes are
font-internal codes, not latin-1), so latin-1-only decode produced
mojibake on them. The remaining honest boundaries, typed:
encryption, TIFF /Predictor 2, and CID fonts WITHOUT a /ToUnicode
CMap (glyph-to-Unicode there needs the font program's cmap/post
tables — quarantined, never mojibake'd).

Decode raises typed ``ValueError`` on malformed input (no header or
startxref, bad xref/object syntax, unterminated strings/streams,
object bomb) so the quarantine keeps corrupt rows as rows.

Oracle recipe: the extraction family's — documents written into real
multi-page PDFs (content streams Flate-compressed on odd pages,
text split across Tj/TJ/' forms with kerning noise) must recover
their text byte-exactly against md5(text). Grammar vectors live in
tests/test_pdf.py.
"""

from __future__ import annotations

import re

from yark_spark.operators.png import _unfilter, zlib_compress, zlib_decompress
from yark_spark.operators.tiff import lzw_decode as _lzw_decode
from yark_spark.operators.tiff import lzw_encode as _lzw_encode
from yark_spark.operators.tiff import packbits_encode as _packbits_encode

__all__ = ["pdf_build", "pdf_text"]


# ---------------------------------------------------------------------------
# Writer — classic xref-table PDFs for fixtures
# ---------------------------------------------------------------------------


def _pdf_escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _content_stream(lines: list[str]) -> bytes:
    """One page's content: each line rotates through the three
    text-showing forms — plain Tj, a TJ array split with kerning
    numbers, and the ' (move-and-show) form."""
    ops = ["BT", "/F1 12 Tf", "14 TL", "72 720 Td"]
    for i, line in enumerate(lines):
        esc = _pdf_escape(line)
        k = i % 3
        if k == 0:
            ops.append(f"({esc}) Tj")
            ops.append("T*")
        elif k == 1:
            mid = max(1, len(esc) // 2)
            # avoid splitting inside an escape sequence
            while mid < len(esc) and esc[mid - 1] == "\\":
                mid += 1
            ops.append(f"[({esc[:mid]}) -28 ({esc[mid:]})] TJ")
            ops.append("0 -14 TD")
        else:
            ops.append(f"({esc}) '")
    ops.append("ET")
    return "\n".join(ops).encode("latin-1")


def _pdf_escape_code_bytes(bs: bytes) -> bytes:
    """Escape raw code bytes for a literal string: backslash the three
    specials, keep printable ASCII, octal-escape everything else (so
    scrambled font codes survive any byte value)."""
    out = bytearray()
    for b in bs:
        if b in (0x5C, 0x28, 0x29):
            out += b"\\" + bytes([b])
        elif 0x20 <= b <= 0x7E:
            out.append(b)
        else:
            out += (f"\\{b:03o}").encode("ascii")
    return bytes(out)


def _content_stream_coded(
    lines: list[str], encode_fn, width: int = 1
) -> bytes:
    """Font-coded twin of _content_stream (round 14): each text line
    is mapped through ``encode_fn`` (str → code bytes, ``width`` bytes
    per code) and rotated through the three show forms; literal
    strings carry octal-escaped code bytes on even lines, hex strings
    on odd — both operand grammars cross the font decoder."""
    ops: list[bytes] = [b"BT", b"/F1 12 Tf", b"14 TL", b"72 720 Td"]
    for i, line in enumerate(lines):
        coded = encode_fn(line)
        use_hex = i % 2 == 1

        def _show(bs: bytes) -> bytes:
            if use_hex:
                return b"<" + bs.hex().encode("ascii") + b">"
            return b"(" + _pdf_escape_code_bytes(bs) + b")"

        k = i % 3
        if k == 0:
            ops.append(_show(coded) + b" Tj")
            ops.append(b"T*")
        elif k == 1:
            mid = max(width, (len(coded) // 2 // width) * width)
            ops.append(
                b"[" + _show(coded[:mid]) + b" -28 " + _show(coded[mid:]) + b"] TJ"
            )
            ops.append(b"0 -14 TD")
        else:
            ops.append(_show(coded) + b" '")
    ops.append(b"ET")
    return b"\n".join(ops)


def _tounicode_cmap(mapping: dict[int, int], width: int) -> bytes:
    """Emit a ToUnicode CMap stream body for {code → codepoint}:
    contiguous code runs whose codepoints also increment become
    bfrange rows (short runs use the per-code ARRAY destination form,
    longer runs the incrementing <dstStart> form), singles become
    bfchar pairs; runs never cross a low-byte 0xFF boundary and
    sections chunk at the spec's 100-entry limit."""
    codes = sorted(mapping)
    runs: list[list[int]] = []
    for c in codes:
        if (
            runs
            and c == runs[-1][-1] + 1
            and mapping[c] == mapping[runs[-1][-1]] + 1
            and (runs[-1][-1] & 0xFF) != 0xFF
        ):
            runs[-1].append(c)
        else:
            runs.append([c])
    chars = [r[0] for r in runs if len(r) == 1]
    ranges = [r for r in runs if len(r) > 1]

    def _h(v: int, w: int) -> str:
        return f"<{v:0{2 * w}x}>"

    body = [
        "/CIDInit /ProcSet findresource begin",
        "12 dict begin",
        "begincmap",
        "/CIDSystemInfo << /Registry (Adobe) /Ordering (UCS) /Supplement 0 >> def",
        "/CMapName /Adobe-Identity-UCS def",
        "/CMapType 2 def",
        "1 begincodespacerange",
        f"{_h(0, width)} {_h((1 << (8 * width)) - 1, width)}",
        "endcodespacerange",
    ]
    for at in range(0, len(chars), 100):
        chunk = chars[at : at + 100]
        body.append(f"{len(chunk)} beginbfchar")
        for c in chunk:
            body.append(f"{_h(c, width)} {_h(mapping[c], 2)}")
        body.append("endbfchar")
    for at in range(0, len(ranges), 100):
        chunk = ranges[at : at + 100]
        body.append(f"{len(chunk)} beginbfrange")
        for r in chunk:
            lo, hi = r[0], r[-1]
            if len(r) <= 4:  # exercise the array-destination form
                arr = " ".join(_h(mapping[c], 2) for c in r)
                body.append(f"{_h(lo, width)} {_h(hi, width)} [{arr}]")
            else:
                body.append(f"{_h(lo, width)} {_h(hi, width)} {_h(mapping[lo], 2)}")
        body.append("endbfrange")
    body += ["endcmap", "CMapName currentdict /CMap defineresource pop", "end", "end"]
    return "\n".join(body).encode("ascii")


def _encode_content(data: bytes, k: int) -> tuple[bytes, bytes]:
    """Encode one content stream under filter-cycle slot ``k`` (0–6),
    returning (dict-fragment after /Length, wire bytes). Slot 5 is a
    two-stage chain (§7.4.1: /Filter arrays list DECODE order, so the
    wire is a85(flate(data))); slot 6 pins the /EarlyChange 0 LZW
    variant."""
    if k == 1:
        return b" /Filter /FlateDecode", zlib_compress(data)
    if k == 2:
        return b" /Filter /LZWDecode", _lzw_encode(data)
    if k == 3:
        return b" /Filter /RunLengthDecode", run_length_encode(data)
    if k == 4:
        return b" /Filter /ASCIIHexDecode", ascii_hex_encode(data)
    if k == 5:
        return (
            b" /Filter [/ASCII85Decode /FlateDecode]",
            ascii85_encode(zlib_compress(data)),
        )
    if k == 6:
        return (
            b" /Filter /LZWDecode /DecodeParms << /EarlyChange 0 >>",
            _lzw_encode(data, early_change=False),
        )
    return b"", data


def pdf_build(
    pages: list[list[str]],
    compress_odd: bool = True,
    words_per_line: int = 6,
    xref_stream: bool = False,
    content_filters: str = "flate_odd",
    font_mode: str = "simple",
) -> bytes:
    """Build a PDF: one page per entry, each a list of text lines;
    odd pages' content streams are FlateDecode-compressed through the
    in-repo zlib encoder. ``xref_stream=True`` emits the PDF 1.5
    layout instead of the classic table: non-stream objects (catalog,
    page tree, page dicts, font) packed into an ``/ObjStm`` object
    stream referenced by type-2 entries, and TWO chained cross-
    reference STREAMS (``/W [1 3 2]``, multi-subsection ``/Index``,
    ``/Prev``, the second PNG-Up predicted via ``/DecodeParms
    /Predictor 12``) — the post-2005 real-world layout.
    ``content_filters='cycle'`` (round 13, classic layout only)
    rotates each page's content stream through the §7.4 filter
    family instead of the flate-odd default."""
    if content_filters not in ("flate_odd", "cycle"):
        raise ValueError(f"pdf: unknown content_filters {content_filters!r}")
    if font_mode not in ("simple", "tounicode", "differences", "cid"):
        raise ValueError(f"pdf: unknown font_mode {font_mode!r}")
    if font_mode != "simple" and (xref_stream or content_filters != "flate_odd"):
        raise ValueError("pdf: font cycling is a classic flate-odd fixture")
    if xref_stream:
        if content_filters != "flate_odd":
            raise ValueError("pdf: filter cycling is a classic-layout fixture")
        return _pdf_build_xrefstream(pages, compress_odd)

    # font-coded show strings (round 14): map text through the chosen
    # font-internal code scheme; the matching /ToUnicode CMap or
    # /Encoding Differences below is the ONLY way to read it back
    encode_fn = None
    code_width = 1
    diff_code_of: dict[str, int] = {}
    if font_mode == "tounicode":
        # XOR 0x80: a byte-bijection that keeps runs contiguous, so the
        # CMap exercises bfrange (long runs), array-form, AND bfchar
        def encode_fn(s: str) -> bytes:  # noqa: F811
            return bytes((ord(ch) ^ 0x80) for ch in s)

    elif font_mode == "cid":
        code_width = 2

        def encode_fn(s: str) -> bytes:  # noqa: F811
            return b"".join((ord(ch) + 0x1234).to_bytes(2, "big") for ch in s)

    elif font_mode == "differences":
        # space rides the /BaseEncoding (WinAnsi) untouched; every other
        # distinct char gets a sequential 1-byte code named in
        # /Differences (AGL names and uniXXXX forms alternating)
        distinct = sorted({ch for pg in pages for ln in pg for ch in ln} - {" "})
        if len(distinct) > 254:
            raise ValueError("pdf: differences fixture supports ≤254 distinct chars")
        diff_code_of = {" ": 0x20}
        nxt = 1
        for ch in distinct:
            if nxt == 0x20:
                nxt += 1
            diff_code_of[ch] = nxt
            nxt += 1

        def encode_fn(s: str) -> bytes:  # noqa: F811
            return bytes(diff_code_of[ch] for ch in s)

    objects: dict[int, bytes] = {}
    n_pages = len(pages)
    first_page_obj = 4
    kids = " ".join(f"{first_page_obj + 2 * i} 0 R" for i in range(n_pages))
    objects[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objects[2] = (
        f"<< /Type /Pages /Count {n_pages} /Kids [{kids}] >>".encode()
    )
    objects[3] = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )
    stream_objs: dict[int, bytes] = {}
    # length objects (odd pages only) get CONTIGUOUS numbers after the
    # page/content objects — classic xref subsections here are 0..max
    next_length_no = first_page_obj + 2 * n_pages
    for i, lines in enumerate(pages):
        page_no = first_page_obj + 2 * i
        content_no = page_no + 1
        objects[page_no] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 3 0 R >> >> "
            f"/Contents {content_no} 0 R >>".encode()
        )
        data = (
            _content_stream_coded(lines, encode_fn, code_width)
            if encode_fn is not None
            else _content_stream(lines)
        )
        if content_filters == "cycle":
            frag, wire = _encode_content(data, i % 7)
            objects[content_no] = (
                f"<< /Length {len(wire)}".encode()
                + frag
                + b" >>\nstream\n"
                + wire
                + b"\nendstream"
            )
        elif compress_odd and i % 2 == 1:
            comp = zlib_compress(data)
            # /Length as an INDIRECT reference — readers must resolve
            length_no = next_length_no
            next_length_no += 1
            stream_objs[length_no] = str(len(comp)).encode()
            objects[content_no] = (
                f"<< /Length {length_no} 0 R /Filter /FlateDecode >>".encode()
                + b"\nstream\n"
                + comp
                + b"\nendstream"
            )
        else:
            objects[content_no] = (
                f"<< /Length {len(data)} >>".encode()
                + b"\nstream\n"
                + data
                + b"\nendstream"
            )
    objects.update(stream_objs)

    # font objects for the coded modes (numbers AFTER the /Length pool
    # so classic xref subsections stay contiguous 0..max)
    if font_mode == "tounicode":
        used = sorted({b for pg in pages for ln in pg for b in encode_fn(ln)})
        cmap = _tounicode_cmap({c: c ^ 0x80 for c in used}, 1)
        comp = zlib_compress(cmap)
        tou_no = next_length_no
        next_length_no += 1
        objects[tou_no] = (
            f"<< /Length {len(comp)} /Filter /FlateDecode >>".encode()
            + b"\nstream\n" + comp + b"\nendstream"
        )
        objects[3] = (
            f"<< /Type /Font /Subtype /TrueType /BaseFont /Scrambled "
            f"/ToUnicode {tou_no} 0 R >>".encode()
        )
    elif font_mode == "cid":
        used = sorted(
            {
                int.from_bytes(encode_fn(ch)[:2], "big")
                for pg in pages
                for ln in pg
                for ch in ln
            }
        )
        cmap = _tounicode_cmap({c: c - 0x1234 for c in used}, 2)
        comp = zlib_compress(cmap)
        tou_no = next_length_no
        desc_no = next_length_no + 1
        next_length_no += 2
        objects[tou_no] = (
            f"<< /Length {len(comp)} /Filter /FlateDecode >>".encode()
            + b"\nstream\n" + comp + b"\nendstream"
        )
        objects[desc_no] = (
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Packed "
            b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
            b"/Supplement 0 >> >>"
        )
        objects[3] = (
            f"<< /Type /Font /Subtype /Type0 /BaseFont /Packed "
            f"/Encoding /Identity-H /DescendantFonts [{desc_no} 0 R] "
            f"/ToUnicode {tou_no} 0 R >>".encode()
        )
    elif font_mode == "differences":
        rev_agl = {}
        for name, ch in _AGL.items():
            rev_agl.setdefault(ch, name)
        parts: list[str] = []
        prev_code = None
        for i, (ch, code) in enumerate(
            sorted(diff_code_of.items(), key=lambda kv: kv[1])
        ):
            if ch == " ":
                continue  # rides the base encoding
            if prev_code is None or code != prev_code + 1:
                parts.append(str(code))
            agl_name = rev_agl.get(ch)
            if agl_name is not None and i % 2 == 0:
                parts.append(f"/{agl_name}")
            else:
                parts.append(f"/uni{ord(ch):04X}")
            prev_code = code
        objects[3] = (
            f"<< /Type /Font /Subtype /Type1 /BaseFont /Remapped "
            f"/Encoding << /Type /Encoding /BaseEncoding /WinAnsiEncoding "
            f"/Differences [{' '.join(parts)}] >> >>".encode()
        )

    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num in sorted(objects):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + objects[num] + b"\nendobj\n"
    xref_at = len(out)
    max_obj = max(objects)
    out += f"xref\n0 {max_obj + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for num in range(1, max_obj + 1):
        out += f"{offsets[num]:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {max_obj + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n".encode()
    )
    return bytes(out)


def _png_up_predict(rows: bytes, width: int) -> bytes:
    """PNG Up (filter 2) prediction over fixed-width rows: each output
    row is filter-byte 2 + (row - previous row) mod 256."""
    out = bytearray()
    prev = bytes(width)
    for at in range(0, len(rows), width):
        row = rows[at : at + width]
        out.append(2)
        out += bytes((row[i] - prev[i]) & 0xFF for i in range(width))
        prev = row
    return bytes(out)


def _xref_stream_entries(
    offsets: dict[int, int],
    objstm_members: dict[int, tuple[int, int]],
    nums: list[int],
) -> bytes:
    """Encode /W [1 3 2] rows for ``nums``: object 0 free, ObjStm
    members as type 2 (stream num, index), the rest type 1."""
    out = bytearray()
    for num in nums:
        if num == 0:
            out += b"\x00" + (0).to_bytes(3, "big") + (0xFFFF).to_bytes(2, "big")
        elif num in objstm_members:
            stm, idx = objstm_members[num]
            out += b"\x02" + stm.to_bytes(3, "big") + idx.to_bytes(2, "big")
        else:
            off = offsets[num]
            if off > 0xFFFFFF:
                raise ValueError("pdf: fixture offset exceeds 3-byte /W field")
            out += b"\x01" + off.to_bytes(3, "big") + (0).to_bytes(2, "big")
    return bytes(out)


def _pdf_build_xrefstream(pages: list[list[str]], compress_odd: bool) -> bytes:
    """PDF 1.5 layout: page-tree dicts live in an object stream,
    located by two chained xref streams (see ``pdf_build``)."""
    n_pages = len(pages)
    first_page_obj = 4
    kids = " ".join(f"{first_page_obj + 2 * i} 0 R" for i in range(n_pages))
    # objects that go INSIDE the ObjStm (non-stream, not /Length values)
    packed: dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: f"<< /Type /Pages /Count {n_pages} /Kids [{kids}] >>".encode(),
        3: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    }
    top: dict[int, bytes] = {}  # stream objects + /Length integers
    next_length_no = first_page_obj + 2 * n_pages
    for i, lines in enumerate(pages):
        page_no = first_page_obj + 2 * i
        content_no = page_no + 1
        packed[page_no] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 3 0 R >> >> "
            f"/Contents {content_no} 0 R >>".encode()
        )
        data = _content_stream(lines)
        if compress_odd and i % 2 == 1:
            comp = zlib_compress(data)
            length_no = next_length_no
            next_length_no += 1
            top[length_no] = str(len(comp)).encode()
            top[content_no] = (
                f"<< /Length {length_no} 0 R /Filter /FlateDecode >>".encode()
                + b"\nstream\n" + comp + b"\nendstream"
            )
        else:
            top[content_no] = (
                f"<< /Length {len(data)} >>".encode()
                + b"\nstream\n" + data + b"\nendstream"
            )
    # ObjStm: header is N (objnum, offset) pairs, then the objects
    objstm_no = next_length_no
    members = sorted(packed)
    bodies = [packed[m] + b"\n" for m in members]
    offs, at = [], 0
    for body in bodies:
        offs.append(at)
        at += len(body)
    header = " ".join(f"{m} {o}" for m, o in zip(members, offs)).encode() + b"\n"
    stm_raw = header + b"".join(bodies)
    stm_comp = zlib_compress(stm_raw)
    top[objstm_no] = (
        f"<< /Type /ObjStm /N {len(members)} /First {len(header)} "
        f"/Filter /FlateDecode /Length {len(stm_comp)} >>".encode()
        + b"\nstream\n" + stm_comp + b"\nendstream"
    )
    x1_no, x2_no = objstm_no + 1, objstm_no + 2
    size = x2_no + 1

    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num in sorted(top):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + top[num] + b"\nendobj\n"
    objstm_members = {m: (objstm_no, i) for i, m in enumerate(members)}

    # split the number space between the two chained xref streams: X1
    # (no predictor) covers [0, split) plus its own entry; X2 (PNG Up
    # /Predictor 12) covers [split, objstm_no] plus its own entry and
    # chains back via /Prev. Both /Index arrays are multi-subsection.
    split = first_page_obj + n_pages  # mid page-dict/content range
    x1_at = len(out)
    nums1 = list(range(split)) + [x1_no]
    rows1 = _xref_stream_entries({**offsets, x1_no: x1_at}, objstm_members, nums1)
    comp1 = zlib_compress(rows1)
    out += f"{x1_no} 0 obj\n".encode() + (
        f"<< /Type /XRef /Size {size} /W [1 3 2] "
        f"/Index [0 {split} {x1_no} 1] /Root 1 0 R "
        f"/Filter /FlateDecode /Length {len(comp1)} >>".encode()
        + b"\nstream\n" + comp1 + b"\nendstream\nendobj\n"
    )
    x2_at = len(out)
    nums2 = list(range(split, objstm_no + 1)) + [x2_no]
    rows2 = _xref_stream_entries(
        {**offsets, x1_no: x1_at, x2_no: x2_at}, objstm_members, nums2
    )
    pred2 = _png_up_predict(rows2, 6)
    comp2 = zlib_compress(pred2)
    out += f"{x2_no} 0 obj\n".encode() + (
        f"<< /Type /XRef /Size {size} /W [1 3 2] "
        f"/Index [{split} {objstm_no + 1 - split} {x2_no} 1] "
        f"/Prev {x1_at} /Root 1 0 R /Filter /FlateDecode "
        f"/DecodeParms << /Predictor 12 /Columns 6 >> "
        f"/Length {len(comp2)} >>".encode()
        + b"\nstream\n" + comp2 + b"\nendstream\nendobj\n"
    )
    out += f"startxref\n{x2_at}\n%%EOF\n".encode()
    return bytes(out)


# ---------------------------------------------------------------------------
# Object-grammar reader
# ---------------------------------------------------------------------------

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num


def _skip_ws(b: bytes, pos: int) -> int:
    n = len(b)
    while pos < n:
        c = b[pos]
        if c in _WS:
            pos += 1
        elif c == 0x25:  # % comment to end of line
            while pos < n and b[pos] not in (0x0A, 0x0D):
                pos += 1
        else:
            return pos
    return pos


def _parse_object(b: bytes, pos: int):
    """Parse one PDF object at pos; returns (value, next_pos)."""
    pos = _skip_ws(b, pos)
    if pos >= len(b):
        raise ValueError("pdf: unexpected end of data")
    c = b[pos]
    if b[pos : pos + 2] == b"<<":
        d = {}
        pos += 2
        while True:
            pos = _skip_ws(b, pos)
            if b[pos : pos + 2] == b">>":
                return d, pos + 2
            if b[pos] != 0x2F:
                raise ValueError("pdf: dictionary key must be a name")
            key, pos = _parse_object(b, pos)
            d[key], pos = _parse_object(b, pos)
    if c == 0x2F:  # /Name
        end = pos + 1
        while end < len(b) and b[end] not in _WS and b[end] not in _DELIM:
            end += 1
        return b[pos + 1 : end].decode("latin-1"), end
    if c == 0x5B:  # [ array
        arr = []
        pos += 1
        while True:
            pos = _skip_ws(b, pos)
            if b[pos] == 0x5D:
                return arr, pos + 1
            v, pos = _parse_object(b, pos)
            arr.append(v)
    if c == 0x28:  # ( literal string
        return _parse_string(b, pos)
    if c == 0x3C:  # <hex string>
        end = b.find(b">", pos)
        if end < 0:
            raise ValueError("pdf: unterminated hex string")
        hx = re.sub(rb"\s", b"", b[pos + 1 : end])
        if len(hx) % 2:
            hx += b"0"
        return bytes.fromhex(hx.decode("ascii")).decode("latin-1"), end + 1
    # number, indirect reference, or keyword
    m = re.match(rb"[+-]?\d+(\.\d*)?|[+-]?\.\d+", b[pos : pos + 32])
    if m:
        tok = m.group(0)
        end = pos + len(tok)
        if b"." not in tok:
            # lookahead for "G R" → indirect reference
            m2 = re.match(rb"\s+(\d+)\s+R(?![A-Za-z])", b[end : end + 16])
            if m2:
                return _Ref(int(tok)), end + m2.end()
            return int(tok), end
        return float(tok), end
    m = re.match(rb"true|false|null", b[pos : pos + 5])
    if m:
        val = {b"true": True, b"false": False, b"null": None}[m.group(0)]
        return val, pos + len(m.group(0))
    raise ValueError(f"pdf: cannot parse object at byte {pos}")


def _parse_string(b: bytes, pos: int) -> tuple[str, int]:
    assert b[pos] == 0x28
    out = bytearray()
    depth = 1
    pos += 1
    n = len(b)
    while pos < n:
        c = b[pos]
        if c == 0x5C:  # backslash
            pos += 1
            if pos >= n:
                break
            e = b[pos]
            if e in b"nrtbf":
                out.append({"n": 10, "r": 13, "t": 9, "b": 8, "f": 12}[chr(e)])
                pos += 1
            elif e in b"()\\":
                out.append(e)
                pos += 1
            elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                oct_digits = bytearray()
                while pos < n and len(oct_digits) < 3 and 0x30 <= b[pos] <= 0x37:
                    oct_digits.append(b[pos])
                    pos += 1
                out.append(int(oct_digits.decode(), 8) & 0xFF)
            elif e in (0x0A, 0x0D):  # line continuation
                pos += 1
                if e == 0x0D and pos < n and b[pos] == 0x0A:
                    pos += 1
            else:
                out.append(e)
                pos += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            pos += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return out.decode("latin-1"), pos + 1
            out.append(c)
            pos += 1
        else:
            out.append(c)
            pos += 1
    raise ValueError("pdf: unterminated literal string")


# ---------------------------------------------------------------------------
# Document reader
# ---------------------------------------------------------------------------


def _bootstrap_resolve(v):
    """Resolver for streams read BEFORE the xref exists (the xref
    stream itself): indirect values are a typed error there."""
    if isinstance(v, _Ref):
        raise ValueError("pdf: xref stream dict values must be direct")
    return v


def _parse_stream_obj_at(b: bytes, pos: int):
    """Parse ``N G obj <<dict>> stream…endstream`` at ``pos`` with a
    DIRECT /Length (used to read xref streams before any xref is
    available); returns (num, dict, raw_data)."""
    m = re.match(rb"\s*(\d+)\s+(\d+)\s+obj", b[pos : pos + 64])
    if not m:
        raise ValueError("pdf: expected an object at startxref target")
    d, end = _parse_object(b, pos + m.end())
    if not isinstance(d, dict):
        raise ValueError("pdf: xref stream object must be a stream")
    end = _skip_ws(b, end)
    if b[end : end + 6] != b"stream":
        raise ValueError("pdf: xref stream object must be a stream")
    end += 6
    if b[end : end + 2] == b"\r\n":
        end += 2
    elif b[end : end + 1] == b"\n":
        end += 1
    length = _bootstrap_resolve(d.get("Length"))
    if not isinstance(length, int):
        raise ValueError("pdf: xref stream /Length must be a direct integer")
    data = b[end : end + length]
    if len(data) < length:
        raise ValueError("pdf: truncated stream")
    return int(m.group(1)), d, data


def _decode_xref_stream(d: dict, data: bytes) -> dict[int, tuple[int, int, int]]:
    """Decode /W-packed xref stream rows per /Index subsections into
    {objnum: (type, field2, field3)} — type 1 = (offset, gen), type 2 =
    (objstm num, index within), type 0 = free."""
    w = d.get("W")
    if not (
        isinstance(w, list)
        and len(w) == 3
        and all(isinstance(x, int) and 0 <= x <= 8 for x in w)
    ):
        raise ValueError("pdf: xref stream /W must be three small integers")
    size = d.get("Size")
    if not isinstance(size, int) or size <= 0:
        raise ValueError("pdf: xref stream /Size must be a positive integer")
    index = d.get("Index", [0, size])
    if not (
        isinstance(index, list)
        and index
        and len(index) % 2 == 0
        and all(isinstance(x, int) and x >= 0 for x in index)
    ):
        raise ValueError("pdf: xref stream /Index must be (start count) pairs")
    rowlen = sum(w)
    n_rows = sum(index[1::2])
    if rowlen == 0 or len(data) < n_rows * rowlen:
        raise ValueError("pdf: truncated xref stream data")
    entries: dict[int, tuple[int, int, int]] = {}
    at = 0
    for k in range(0, len(index), 2):
        start, count = index[k], index[k + 1]
        for i in range(count):
            fields = []
            for width in w:
                fields.append(int.from_bytes(data[at : at + width], "big"))
                at += width
            # zero-width type field defaults to 1 (in-use); other
            # zero-width fields default to 0 (PDF 32000-1 §7.5.8.3)
            typ = fields[0] if w[0] else 1
            entries[start + i] = (typ, fields[1], fields[2])
    return entries


_FREE = -1  # tombstone: freed in a newer revision; older entries must not win


def _xref_offsets(b: bytes) -> dict[int, object]:
    """Locate and parse the cross-reference chain (/Prev followed) —
    classic TABLES, PDF 1.5 xref STREAMS (/W widths, /Index
    subsections, FlateDecode + PNG predictors), and hybrid files
    (classic trailer /XRefStm). Values: int = byte offset (type 1),
    ("objstm", stream_num, idx) = compressed object (type 2)."""
    tail = b[-2048:]
    m = None
    for m in re.finditer(rb"startxref\s+(\d+)", tail):
        pass
    if m is None:
        raise ValueError("pdf: startxref not found")
    offsets: dict[int, object] = {}

    def _put(num: int, loc: object) -> None:
        if num not in offsets:
            offsets[num] = loc

    pending = [int(m.group(1))]
    seen: set[int] = set()
    while pending:
        at = pending.pop(0)
        if at in seen or at >= len(b):
            raise ValueError("pdf: broken xref chain")
        seen.add(at)
        pos = _skip_ws(b, at)
        if b[pos : pos + 4] == b"xref":
            pos += 4
            while True:
                pos = _skip_ws(b, pos)
                if b[pos : pos + 7] == b"trailer":
                    pos += 7
                    break
                m2 = re.match(rb"(\d+)\s+(\d+)", b[pos : pos + 32])
                if not m2:
                    raise ValueError("pdf: malformed xref subsection header")
                start, count = int(m2.group(1)), int(m2.group(2))
                pos += m2.end()
                pos = _skip_ws(b, pos)
                for i in range(count):
                    entry = b[pos : pos + 20]
                    if len(entry) < 18:
                        raise ValueError("pdf: truncated xref entry")
                    kind = entry[17:18]
                    num = start + i
                    if kind == b"n":
                        _put(num, int(entry[:10]))
                    elif num:  # freed: block older revisions' entries
                        _put(num, _FREE)
                    pos += 20
            trailer, pos = _parse_object(b, pos)
        else:
            _num, trailer, data = _parse_stream_obj_at(b, pos)
            if trailer.get("Type") != "XRef":
                raise ValueError(
                    "pdf: startxref target is neither an xref table nor "
                    "a /Type /XRef stream"
                )
            data = _apply_filters(trailer, data, _bootstrap_resolve)
            for num, (typ, f2, f3) in _decode_xref_stream(trailer, data).items():
                if typ == 1:
                    _put(num, f2)
                elif typ == 2:
                    _put(num, ("objstm", f2, f3))
                elif typ == 0 and num:
                    _put(num, _FREE)
                # unknown types: ignore per spec (forward compat)
            xref_stm = trailer.get("XRefStm")
            if xref_stm is not None:
                raise ValueError("pdf: /XRefStm inside an xref stream")
        # hybrid-reference file: the classic trailer points at a
        # PARALLEL xref stream describing the compressed objects;
        # process it before this revision's /Prev
        xref_stm = trailer.get("XRefStm")
        if isinstance(xref_stm, int):
            pending.insert(0, xref_stm)
        if "Root" in trailer and "__root__" not in offsets:
            root = trailer["Root"]
            if not isinstance(root, _Ref):
                raise ValueError("pdf: /Root must be an indirect reference")
            offsets["__root__"] = root.num  # type: ignore[assignment]
        prev = trailer.get("Prev")
        if prev is not None:
            pending.append(int(prev))
    if "__root__" not in offsets:
        raise ValueError("pdf: trailer has no /Root")
    return {k: v for k, v in offsets.items() if v is not _FREE or k == "__root__"}


class _Pdf:
    def __init__(self, b: bytes):
        if not b.startswith(b"%PDF-"):
            raise ValueError("pdf: missing %PDF header")
        self.b = b
        self.offsets = _xref_offsets(b)
        self.root_num = self.offsets.pop("__root__")
        self._cache: dict[int, object] = {}
        self._objstm_loaded: set[int] = set()

    def obj(self, num: int):
        if num in self._cache:
            return self._cache[num]
        if num not in self.offsets:
            raise ValueError(f"pdf: object {num} not in xref")
        pos = self.offsets[num]
        if isinstance(pos, tuple):  # ("objstm", stream_num, index)
            self._load_objstm(pos[1])
            if num not in self._cache:
                raise ValueError(
                    f"pdf: object {num} not found in object stream {pos[1]}"
                )
            return self._cache[num]
        m = re.match(rb"\s*(\d+)\s+(\d+)\s+obj", self.b[pos : pos + 64])
        if not m or int(m.group(1)) != num:
            raise ValueError(f"pdf: object header mismatch at {pos}")
        val, end = _parse_object(self.b, pos + m.end())
        # stream?
        end = _skip_ws(self.b, end)
        if self.b[end : end + 6] == b"stream":
            end += 6
            if self.b[end : end + 2] == b"\r\n":
                end += 2
            elif self.b[end : end + 1] == b"\n":
                end += 1
            length = self.resolve(val.get("Length"))
            if not isinstance(length, int):
                raise ValueError("pdf: stream /Length must resolve to an integer")
            data = self.b[end : end + length]
            if len(data) < length:
                raise ValueError("pdf: truncated stream")
            val = ("__stream__", val, data)
        self._cache[num] = val
        return val

    def resolve(self, v):
        seen = 0
        while isinstance(v, _Ref):
            v = self.obj(v.num)
            seen += 1
            if seen > 32:
                raise ValueError("pdf: reference chain too deep")
        return v

    def _load_objstm(self, stm_num: int) -> None:
        """Decode an /ObjStm object stream and cache every member:
        header is /N (objnum offset) integer pairs, objects start at
        /First. An ObjStm located inside another ObjStm is a typed
        error (PDF 32000-1 forbids it)."""
        if stm_num in self._objstm_loaded:
            return
        if isinstance(self.offsets.get(stm_num), tuple):
            raise ValueError("pdf: object stream located inside an object stream")
        self._objstm_loaded.add(stm_num)
        stm = self.obj(stm_num)
        if not (isinstance(stm, tuple) and stm[0] == "__stream__"):
            raise ValueError(f"pdf: object {stm_num} is not an object stream")
        d = stm[1]
        if d.get("Type") != "ObjStm":
            raise ValueError(f"pdf: object {stm_num} is not /Type /ObjStm")
        n = self.resolve(d.get("N"))
        first = self.resolve(d.get("First"))
        if not (isinstance(n, int) and isinstance(first, int) and n >= 0):
            raise ValueError("pdf: object stream /N and /First must be integers")
        if n > 100_000:
            raise ValueError("pdf: object stream /N exceeds bomb guard")
        data = _stream_data(self, stm)
        header = data[:first]
        ints = re.findall(rb"\d+", header)
        if len(ints) < 2 * n:
            raise ValueError("pdf: truncated object stream header")
        for k in range(n):
            onum, ooff = int(ints[2 * k]), int(ints[2 * k + 1])
            if onum in self._cache:
                continue
            val, _end = _parse_object(data, first + ooff)
            self._cache[onum] = val


_FILTER_OK = (None, "FlateDecode")


# ---------------------------------------------------------------------------
# Non-Flate stream filters (ISO 32000-1 §7.4): the ASCII armor pair,
# RunLength, and LZW (shared with the TIFF codec — same MSB-first wire,
# PDF adds the /EarlyChange 0 variant). Each has an encoder so the
# fixture writer can put every filter on the wire under the one oracle
# digest. DCT/CCITT/JBIG2/JPX/Crypt stay typed boundaries (image and
# encryption territory).
# ---------------------------------------------------------------------------

_WS = b"\x00\t\n\x0c\r "


def ascii_hex_decode(data: bytes) -> bytes:
    """ASCIIHexDecode (§7.4.2): hex pairs, whitespace ignored, ``>``
    EOD required, an odd final digit takes a zero low nibble."""
    out = bytearray()
    pending = -1
    for c in data:
        if c in _WS:
            continue
        if c == 0x3E:  # '>'
            if pending >= 0:
                out.append(pending << 4)
            return bytes(out)
        if 0x30 <= c <= 0x39:
            v = c - 0x30
        elif 0x41 <= c <= 0x46:
            v = c - 0x37
        elif 0x61 <= c <= 0x66:
            v = c - 0x57
        else:
            raise ValueError(f"pdf: ASCIIHexDecode: non-hex byte {c:#x}")
        if pending < 0:
            pending = v
        else:
            out.append((pending << 4) | v)
            pending = -1
    raise ValueError("pdf: ASCIIHexDecode missing '>' EOD")


def ascii_hex_encode(data: bytes) -> bytes:
    return data.hex().encode("ascii") + b">"


def ascii85_decode(data: bytes) -> bytes:
    """ASCII85Decode (§7.4.3): base-85 groups ``!``–``u`` → 4 bytes,
    ``z`` = four zero bytes (whole-group shorthand only), ``~>`` EOD
    required; a partial final group of n chars yields n−1 bytes (pad
    with ``u``, keep the high-order bytes)."""
    out = bytearray()
    group: list[int] = []
    i, n = 0, len(data)
    if data[:2] == b"<~":  # Adobe-style leader, tolerated
        i = 2
    while i < n:
        c = data[i]
        i += 1
        if c in _WS:
            continue
        if c == 0x7E:  # '~'
            if i < n and data[i] == 0x3E:
                if len(group) == 1:
                    raise ValueError("pdf: ASCII85Decode lone trailing char")
                if group:
                    k = len(group)
                    v = 0
                    for g in group + [84] * (5 - k):
                        v = v * 85 + g
                    if v > 0xFFFFFFFF:
                        raise ValueError("pdf: ASCII85Decode group overflow")
                    out += v.to_bytes(4, "big")[: k - 1]
                return bytes(out)
            raise ValueError("pdf: ASCII85Decode stray '~'")
        if c == 0x7A:  # 'z'
            if group:
                raise ValueError("pdf: ASCII85Decode 'z' inside a group")
            out += b"\x00\x00\x00\x00"
            continue
        if not 0x21 <= c <= 0x75:
            raise ValueError(f"pdf: ASCII85Decode byte {c:#x} out of range")
        group.append(c - 0x21)
        if len(group) == 5:
            v = 0
            for g in group:
                v = v * 85 + g
            if v > 0xFFFFFFFF:
                raise ValueError("pdf: ASCII85Decode group overflow")
            out += v.to_bytes(4, "big")
            group = []
    raise ValueError("pdf: ASCII85Decode missing '~>' EOD")


def ascii85_encode(data: bytes) -> bytes:
    out = bytearray()
    for k in range(0, len(data), 4):
        chunk = data[k : k + 4]
        pad = 4 - len(chunk)
        v = int.from_bytes(chunk + b"\x00" * pad, "big")
        if v == 0 and pad == 0:
            out.append(0x7A)  # 'z'
            continue
        digits = []
        for _ in range(5):
            v, r = divmod(v, 85)
            digits.append(r + 0x21)
        out += bytes(reversed(digits))[: 5 - pad]
    return bytes(out) + b"~>"


def run_length_decode(data: bytes) -> bytes:
    """RunLengthDecode (§7.4.5): PackBits with length byte 128 as a
    REQUIRED EOD (TIFF treats it as a no-op — the one wire
    difference)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        length = data[i]
        i += 1
        if length == 128:
            return bytes(out)
        if length < 128:
            if i + length + 1 > n:
                raise ValueError("pdf: RunLengthDecode literal past end")
            out += data[i : i + length + 1]
            i += length + 1
        else:
            if i >= n:
                raise ValueError("pdf: RunLengthDecode run past end")
            out += bytes([data[i]]) * (257 - length)
            i += 1
    raise ValueError("pdf: RunLengthDecode missing EOD")


def run_length_encode(data: bytes) -> bytes:
    # PackBits never emits control byte 128, so appending the PDF EOD
    # to the TIFF encoder's output is a valid RunLengthEncode wire.
    return _packbits_encode(data) + b"\x80"


def _png_unpredict(data: bytes, columns: int, colors: int, bpc: int) -> bytes:
    """Reverse PNG row prediction (/Predictor 10–15) via the in-repo
    PNG unfilter: rows of (filter_type, bytes) with stride derived
    from /Columns /Colors /BitsPerComponent."""
    bpp = max(1, (colors * bpc + 7) // 8)
    stride = (columns * colors * bpc + 7) // 8
    if stride <= 0 or len(data) % (stride + 1):
        raise ValueError("pdf: predicted stream is not whole rows")
    height = len(data) // (stride + 1)
    return bytes(_unfilter(data, height, stride, bpp))


def _maybe_unpredict(data: bytes, parm, resolve) -> bytes:
    """Apply the /Predictor half of /DecodeParms (shared by Flate and
    LZW per §7.4.4.4): 1/absent = none, 10–15 = the PNG row filters;
    TIFF Predictor 2 stays a typed boundary."""
    if not isinstance(parm, dict):
        return data
    pred = resolve(parm.get("Predictor", 1))
    if pred in (None, 1):
        return data
    if isinstance(pred, int) and 10 <= pred <= 15:
        return _png_unpredict(
            data,
            int(resolve(parm.get("Columns", 1))),
            int(resolve(parm.get("Colors", 1))),
            int(resolve(parm.get("BitsPerComponent", 8))),
        )
    raise NotImplementedError(
        f"pdf: predictor {pred} not supported (PNG 10-15 only)"
    )


def _apply_filters(d: dict, data: bytes, resolve) -> bytes:
    """Run a stream's /Filter pipeline (with per-filter /DecodeParms):
    FlateDecode and LZWDecode (both with the PNG predictors and, for
    LZW, /EarlyChange), the ASCIIHex/ASCII85 armor pair, and
    RunLengthDecode — chains applied in listed order per §7.4.1.
    DCT/CCITT/JBIG2/JPX/Crypt remain typed boundaries."""
    filt = resolve(d.get("Filter"))
    if filt is None:
        return data
    filters = filt if isinstance(filt, list) else [filt]
    parms = resolve(d.get("DecodeParms"))
    parms_list = parms if isinstance(parms, list) else [parms] * len(filters)
    if len(parms_list) < len(filters):
        parms_list = list(parms_list) + [None] * (len(filters) - len(parms_list))
    for f, parm in zip(filters, parms_list):
        parm = resolve(parm)
        if f == "FlateDecode":
            data = zlib_decompress(data, max_output=64 << 20)
            data = _maybe_unpredict(data, parm, resolve)
        elif f == "LZWDecode":
            early = 1
            if isinstance(parm, dict):
                early = int(resolve(parm.get("EarlyChange", 1)))
            data = _lzw_decode(
                data, max_output=64 << 20, early_change=early != 0
            )
            data = _maybe_unpredict(data, parm, resolve)
        elif f == "ASCIIHexDecode":
            data = ascii_hex_decode(data)
        elif f == "ASCII85Decode":
            data = ascii85_decode(data)
        elif f == "RunLengthDecode":
            data = run_length_decode(data)
        else:
            raise NotImplementedError(
                f"pdf: filter {f} not supported (DCT/CCITT/JBIG2/JPX/"
                "Crypt are image/encryption territory)"
            )
    return data


def _stream_data(pdf: _Pdf, obj) -> bytes:
    if not (isinstance(obj, tuple) and obj[0] == "__stream__"):
        raise ValueError("pdf: expected a stream object")
    _tag, d, data = obj
    return _apply_filters(d, data, pdf.resolve)


# ---------------------------------------------------------------------------
# Font encodings — ToUnicode CMaps, /Encoding Differences (round 14)
# ---------------------------------------------------------------------------

# Adobe Glyph List subset covering the standard Latin names PDF
# /Differences arrays use (AGL + PDF spec Appendix D); the algorithmic
# uniXXXX / uXXXXXX forms are handled in _glyph_to_unicode.
_AGL: dict[str, str] = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~", "quoteleft": "‘",
    "quoteright": "’", "quotedblleft": "“",
    "quotedblright": "”", "endash": "–", "emdash": "—",
    "bullet": "•", "ellipsis": "…", "dagger": "†",
    "daggerdbl": "‡", "fi": "ﬁ", "fl": "ﬂ",
    "germandbls": "ß", "adieresis": "ä", "odieresis": "ö",
    "udieresis": "ü", "eacute": "é", "egrave": "è",
    "agrave": "à", "ccedilla": "ç", "ntilde": "ñ",
    "oslash": "ø", "aring": "å", "ae": "æ",
    "Euro": "€", "sterling": "£", "yen": "¥",
    "cent": "¢", "degree": "°", "section": "§",
    "paragraph": "¶", "copyright": "©", "registered": "®",
    "trademark": "™", "nbspace": " ", "minus": "−",
    "multiply": "×", "divide": "÷", "plusminus": "±",
}
# single-letter names ARE the glyph: /A → "A", /z → "z"
for _ch in "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz":
    _AGL[_ch] = _ch

_UNI_NAME_RE = re.compile(r"^uni((?:[0-9A-F]{4})+)$")
_U_NAME_RE = re.compile(r"^u([0-9A-F]{4,6})$")


def _glyph_to_unicode(name: str) -> str | None:
    """Resolve a glyph name per the AGL algorithm: exact AGL entry,
    then the algorithmic uniXXXX (one or more UTF-16 units) and
    uXXXX[XX] forms; unknown names return None (caller keeps the
    base-encoding slot — lenient, like real extractors)."""
    hit = _AGL.get(name)
    if hit is not None:
        return hit
    m = _UNI_NAME_RE.match(name)
    if m:
        hx = m.group(1)
        units = [int(hx[i : i + 4], 16) for i in range(0, len(hx), 4)]
        return b"".join(u.to_bytes(2, "big") for u in units).decode(
            "utf-16-be", errors="replace"
        )
    m = _U_NAME_RE.match(name)
    if m:
        cp = int(m.group(1), 16)
        if cp <= 0x10FFFF:
            return chr(cp)
    return None


def _base_encoding_table(name: str | None) -> list[str]:
    """256-slot code→char table for a /BaseEncoding name. WinAnsi is
    the cp1252 layout, MacRoman the mac-roman layout; slots those
    encodings leave undefined fall back to the latin-1 identity (the
    pre-round-14 behavior, so unmapped codes degrade, not crash)."""
    codec = {
        "WinAnsiEncoding": "cp1252",
        "MacRomanEncoding": "mac_roman",
    }.get(name or "", "latin-1")
    table: list[str] = []
    for i in range(256):
        try:
            table.append(bytes([i]).decode(codec))
        except UnicodeDecodeError:
            table.append(chr(i))
    return table


_CMAP_HEX_RE = re.compile(rb"<([0-9A-Fa-f\s]*)>|\[|\]")


def _parse_cmap(data: bytes) -> tuple[list[tuple[bytes, bytes]], dict[bytes, str]]:
    """Parse a ToUnicode CMap stream (§9.10.3): codespacerange pairs
    (fixing code byte-widths), bfchar pairs, and bfrange triples in
    both destination forms — <lo> <hi> <dstStart> (destination
    increments with the code) and <lo> <hi> [<d0> <d1> …] (explicit
    per-code array). Returns (codespaces, {code bytes → unicode str})."""

    def _hx(tok: bytes) -> bytes:
        hx = re.sub(rb"\s", b"", tok)
        if len(hx) % 2:
            hx += b"0"
        return bytes.fromhex(hx.decode("ascii"))

    codespaces: list[tuple[bytes, bytes]] = []
    for sec in re.findall(
        rb"begincodespacerange(.*?)endcodespacerange", data, re.S
    ):
        toks = re.findall(rb"<([0-9A-Fa-f\s]*)>", sec)
        if len(toks) % 2:
            raise ValueError("pdf: cmap codespacerange must hold <lo> <hi> pairs")
        for i in range(0, len(toks), 2):
            lo, hi = _hx(toks[i]), _hx(toks[i + 1])
            if len(lo) != len(hi) or not lo:
                raise ValueError("pdf: cmap codespace bounds must share a width")
            codespaces.append((lo, hi))

    mapping: dict[bytes, str] = {}

    def _dst_str(dst: bytes) -> str:
        if len(dst) % 2:
            raise ValueError("pdf: cmap bf destination must be UTF-16BE")
        return dst.decode("utf-16-be", errors="replace")

    for sec in re.findall(rb"beginbfchar(.*?)endbfchar", data, re.S):
        toks = re.findall(rb"<([0-9A-Fa-f\s]*)>", sec)
        if len(toks) % 2:
            raise ValueError("pdf: cmap bfchar must hold <src> <dst> pairs")
        for i in range(0, len(toks), 2):
            mapping[_hx(toks[i])] = _dst_str(_hx(toks[i + 1]))

    for sec in re.findall(rb"beginbfrange(.*?)endbfrange", data, re.S):
        toks: list[object] = []
        for m in _CMAP_HEX_RE.finditer(sec):
            toks.append(_hx(m.group(1)) if m.group(1) is not None else m.group(0))
        at = 0
        while at < len(toks):
            lo, hi = toks[at], toks[at + 1] if at + 1 < len(toks) else None
            if not isinstance(lo, bytes) or not isinstance(hi, bytes):
                raise ValueError("pdf: cmap bfrange must start <lo> <hi>")
            if len(lo) != len(hi) or lo > hi:
                raise ValueError("pdf: cmap bfrange bounds out of order")
            count = int.from_bytes(hi, "big") - int.from_bytes(lo, "big") + 1
            at += 2
            if at >= len(toks):
                raise ValueError("pdf: cmap bfrange missing destination")
            nxt = toks[at]
            if nxt == b"[":
                at += 1
                dsts: list[bytes] = []
                while at < len(toks) and toks[at] != b"]":
                    d = toks[at]
                    if not isinstance(d, bytes):
                        raise ValueError("pdf: cmap bfrange array holds <dst> only")
                    dsts.append(d)
                    at += 1
                if at >= len(toks):
                    raise ValueError("pdf: cmap bfrange array unterminated")
                at += 1  # past ]
                if len(dsts) != count:
                    raise ValueError("pdf: cmap bfrange array length mismatch")
                base = int.from_bytes(lo, "big")
                for k, d in enumerate(dsts):
                    mapping[(base + k).to_bytes(len(lo), "big")] = _dst_str(d)
            elif isinstance(nxt, bytes):
                at += 1
                base = int.from_bytes(lo, "big")
                dst0 = int.from_bytes(nxt, "big")
                w = len(nxt)
                for k in range(count):
                    mapping[(base + k).to_bytes(len(lo), "big")] = _dst_str(
                        (dst0 + k).to_bytes(w, "big")
                    )
            else:
                raise ValueError("pdf: cmap bfrange destination malformed")
    return codespaces, mapping


class _FontDecoder:
    """Maps raw show-string code bytes to Unicode text. Three shapes:
    a ToUnicode CMap (codespace-driven code widths), a 256-slot simple
    table (/Encoding base + /Differences), or the latin-1 identity
    fallback (pre-round-14 behavior, kept for bare fonts)."""

    __slots__ = ("codespaces", "cmap", "table", "default_w")

    def __init__(
        self,
        codespaces: list[tuple[bytes, bytes]] | None = None,
        cmap: dict[bytes, str] | None = None,
        table: list[str] | None = None,
    ):
        self.codespaces = codespaces or []
        self.cmap = cmap
        self.table = table
        self.default_w = len(self.codespaces[0][0]) if self.codespaces else 1

    def decode(self, raw: bytes) -> str:
        if self.cmap is not None:
            out: list[str] = []
            i, n = 0, len(raw)
            while i < n:
                w = self.default_w
                for lo, hi in self.codespaces:
                    cw = len(lo)
                    chunk = raw[i : i + cw]
                    if len(chunk) == cw and lo <= chunk <= hi:
                        w = cw
                        break
                chunk = raw[i : i + w]
                i += w
                s = self.cmap.get(chunk)
                if s is None:
                    # unmapped: simple-width codes degrade to latin-1,
                    # wide codes to U+FFFD (there IS no byte meaning)
                    s = chunk.decode("latin-1") if len(chunk) == 1 else "�"
                out.append(s)
            return "".join(out)
        if self.table is not None:
            return "".join(self.table[b] for b in raw)
        return raw.decode("latin-1")


_LATIN1_DECODER = _FontDecoder()


def _font_decoder(pdf: "_Pdf", font_obj) -> _FontDecoder:
    """Build the decoder for one font dict: /ToUnicode CMap when
    embedded (authoritative per §9.10.2), else simple-font /Encoding
    (name or dict-with-/Differences), else latin-1. A Type0 (CID)
    font WITHOUT /ToUnicode is a typed error → quarantine, because
    its codes are font-internal glyph indexes with no text meaning."""
    font = pdf.resolve(font_obj)
    if not isinstance(font, dict):
        raise ValueError("pdf: /Font resource entry must be a dictionary")
    tounicode = font.get("ToUnicode")
    if tounicode is not None:
        data = _stream_data(pdf, pdf.resolve(tounicode))
        codespaces, mapping = _parse_cmap(data)
        if not codespaces:
            codespaces = [(b"\x00", b"\xff")]
        return _FontDecoder(codespaces=codespaces, cmap=mapping)
    if font.get("Subtype") == "Type0":
        raise ValueError(
            "pdf: CID-keyed Type0 font without /ToUnicode — glyph-to-"
            "Unicode needs the font program's cmap/post tables"
        )
    enc = pdf.resolve(font.get("Encoding"))
    if isinstance(enc, str):
        return _FontDecoder(table=_base_encoding_table(enc))
    if isinstance(enc, dict):
        table = _base_encoding_table(
            pdf.resolve(enc.get("BaseEncoding"))
            if enc.get("BaseEncoding") is not None
            else None
        )
        diffs = pdf.resolve(enc.get("Differences"))
        if diffs is not None:
            if not isinstance(diffs, list):
                raise ValueError("pdf: /Differences must be an array")
            code = 0
            for item in diffs:
                if isinstance(item, int):
                    code = item
                elif isinstance(item, str):
                    if not 0 <= code <= 255:
                        raise ValueError("pdf: /Differences code out of range")
                    uni = _glyph_to_unicode(item)
                    if uni is not None:
                        table[code] = uni
                    code += 1
                else:
                    raise ValueError("pdf: /Differences holds codes and names")
        return _FontDecoder(table=table)
    if enc is not None:
        raise ValueError("pdf: /Encoding must be a name or dictionary")
    return _LATIN1_DECODER


def _page_font_decoders(pdf: "_Pdf", resources, cache: dict) -> dict:
    """Resolve a page's /Resources /Font dict into {name: decoder},
    caching per indirect object number so a font shared across pages
    parses its CMap once."""
    fonts: dict[str, _FontDecoder] = {}
    res = pdf.resolve(resources)
    if not isinstance(res, dict):
        return fonts
    font_dict = res.get("Font")
    if isinstance(font_dict, _Ref):
        font_dict = pdf.resolve(font_dict)
    if not isinstance(font_dict, dict):
        return fonts
    for name, ref in font_dict.items():
        key = ref.num if isinstance(ref, _Ref) else None
        if key is not None and key in cache:
            fonts[name] = cache[key]
            continue
        dec = _font_decoder(pdf, ref)
        if key is not None:
            cache[key] = dec
        fonts[name] = dec
    return fonts


_TEXT_SHOW_RE = re.compile(rb"Tj|TJ|T\*|Td|TD|'|\"")


def _content_text(content: bytes, fonts: dict | None = None) -> list[str]:
    """Walk a content stream, collecting text-show strings; line-move
    operators (Td/TD/T*/'/\") emit a word-boundary marker. ``fonts``
    maps resource names (/F1) to _FontDecoders; the ``Tf`` operator
    switches the active decoder, and show-string bytes (recovered via
    the latin-1 byte↔str bijection the parser uses) are mapped through
    it — round 14's font-encoding-aware path."""
    pieces: list[str] = []
    pos = 0
    n = len(content)
    pending: list[bytes] = []  # raw show-string operands awaiting their operator
    last_name: str | None = None  # most recent name operand (Tf's font)
    cur = _LATIN1_DECODER
    while pos < n:
        c = content[pos]
        if c in _WS:
            pos += 1
            continue
        if c == 0x28:  # string operand
            s, pos = _parse_string(content, pos)
            pending.append(s.encode("latin-1"))
            continue
        if c == 0x5B:  # array operand (TJ): strings + kerning numbers
            arr, pos = _parse_object(content, pos)
            pending.extend(
                x.encode("latin-1") for x in arr if isinstance(x, str)
            )
            continue
        if c == 0x3C:  # <hex> show operand or <<dict>> (BDC property list)
            v, pos = _parse_object(content, pos)
            if isinstance(v, str):  # hex string: a show operand like (…)
                pending.append(v.encode("latin-1"))
            continue
        if c == 0x2F:  # name operand (/F1)
            last_name, pos = _parse_object(content, pos)
            continue
        m = re.match(rb"[+-]?\d+(\.\d*)?|[+-]?\.\d+", content[pos:])
        if m:
            pos += m.end()
            continue
        # operator token
        end = pos
        while end < n and content[end] not in _WS and content[end] not in _DELIM:
            end += 1
        op = content[pos:end] if end > pos else content[pos : pos + 1]
        pos = max(end, pos + 1)
        if op == b"Tf" and fonts is not None and last_name is not None:
            cur = fonts.get(last_name, _LATIN1_DECODER)
        elif op in (b"Tj", b"'", b'"'):
            pieces.extend(cur.decode(s) for s in pending)
            pieces.append(" ")  # ' and " imply a line move; Tj gets T*
            if op == b"Tj":
                pieces.pop()  # Tj itself moves nothing
        elif op == b"TJ":
            pieces.extend(cur.decode(s) for s in pending)
        elif op in (b"Td", b"TD", b"T*"):
            pieces.append(" ")
        pending = []
    return pieces


def pdf_text(payload: bytes, max_pages: int = 10_000) -> str:
    """Extract the text of every page in document order, whitespace-
    normalized to single spaces."""
    pdf = _Pdf(bytes(payload))
    root = pdf.resolve(pdf.obj(pdf.root_num))
    pages_obj = pdf.resolve(root.get("Pages"))
    page_nums: list[tuple[object, object]] = []  # (contents, resources)

    def _walk(node_dict, inherited_res) -> None:
        node_type = node_dict.get("Type")
        res = node_dict.get("Resources", inherited_res)  # §7.8.3 inheritance
        if node_type == "Pages":
            for kid in node_dict.get("Kids", []):
                if len(page_nums) > max_pages:
                    raise ValueError("pdf: page count exceeds bomb guard")
                kid_obj = pdf.resolve(kid)
                _walk(kid_obj, res)
        elif node_type == "Page":
            contents = node_dict.get("Contents")
            page_nums.append((contents, res))
        else:
            raise ValueError(f"pdf: unexpected page-tree node {node_type!r}")

    _walk(pages_obj, None)
    pieces: list[str] = []
    font_cache: dict = {}
    for contents, res in page_nums:
        refs = contents if isinstance(contents, list) else [contents]
        data = b"".join(_stream_data(pdf, pdf.resolve(r)) for r in refs)
        fonts = _page_font_decoders(pdf, res, font_cache) if res is not None else None
        pieces.extend(_content_text(data, fonts))
        pieces.append(" ")
    return " ".join("".join(pieces).split())
