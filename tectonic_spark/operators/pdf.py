"""PDF document parsing — after HTML, the highest-volume document
format a web crawl yields; a training pipeline extracts its text before
dedup/quality scoring.

Scope (structural, derivable from the public ISO 32000-1 grammar):

* **COS object grammar**: names, numbers, literal strings with escapes
  and balanced parens, hex strings, arrays, dictionaries, booleans,
  null, indirect references (``n g R``), comments, streams framed by
  ``/Length`` (direct or indirect).
* **Cross-reference**: classic ``xref`` tables (multi-subsection) AND
  cross-reference STREAMS (type ``/XRef``, ``/W`` field widths, PNG
  Up/None predictors per ``/DecodeParms``), ``/Prev`` chains for
  incrementally-updated files, hybrid ``startxref`` resolution.
* **Object streams** (``/ObjStm``): compressed-object containers — the
  pair-table header and in-stream offsets.
* **Filters**: ``FlateDecode`` (zlib) with optional PNG predictor
  columns, ``ASCIIHexDecode``; others raise ``NotImplementedError``
  (``DCTDecode`` image XObjects are CENSUSED, not decoded — the m13/
  H.264 boundary; encrypted documents are detected and refused).
* **Text extraction**: page-tree walk (inherited ``/Resources`` not
  needed for text), content-stream interpretation of BT/ET blocks —
  ``Tj``, ``'``, ``"``, ``TJ`` (kerning arrays), ``Td/TD/T*/Tm`` line
  logic (a negative y move starts a new line), WinAnsi/Standard
  single-byte text (latin-1 superset); embedded CMap/CID text is
  documented out (raises, censused).

Error taxonomy: ``EOFError`` truncation, ``ValueError`` structural,
``NotImplementedError`` documented boundaries.

Reference note: the reference engine has no document-format surface —
north-star training-pipeline scope (SURVEY.md §2), same category as
the codec family.
"""

from __future__ import annotations

import re
import zlib

__all__ = ["analyze_pdf", "build_pdf", "extract_text", "parse_pdf"]

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Lexer:
    """Tokenizer over the COS syntax."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.d = data
        self.pos = pos

    def _skip_ws(self) -> None:
        d, n = self.d, len(self.d)
        while self.pos < n:
            c = self.d[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # % comment to EOL
                eol = min(
                    x
                    for x in (d.find(b"\n", self.pos), d.find(b"\r", self.pos), n)
                    if x >= 0
                )
                self.pos = eol
            else:
                return

    def peek_byte(self) -> int:
        self._skip_ws()
        if self.pos >= len(self.d):
            raise EOFError("unexpected end of PDF data")
        return self.d[self.pos]

    def token(self) -> bytes:
        """Next regular token (number / keyword)."""
        self._skip_ws()
        d, n = self.d, len(self.d)
        start = self.pos
        while self.pos < n and d[self.pos] not in _WS and d[self.pos] not in _DELIM:
            self.pos += 1
        if self.pos == start:
            raise ValueError(
                f"unexpected delimiter {chr(d[start])!r} at offset {start}"
            )
        return d[start : self.pos]


class Ref:
    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int) -> None:
        self.num, self.gen = num, gen

    def __repr__(self) -> str:  # pragma: no cover
        return f"{self.num} {self.gen} R"

    def __eq__(self, o) -> bool:
        return isinstance(o, Ref) and (self.num, self.gen) == (o.num, o.gen)

    def __hash__(self) -> int:
        return hash((self.num, self.gen))


class Stream:
    __slots__ = ("meta", "raw")

    def __init__(self, meta: dict, raw: bytes) -> None:
        self.meta, self.raw = meta, raw


_NUM = re.compile(rb"^[+-]?(\d+\.?\d*|\.\d+)$")
_STR_SPECIAL = re.compile(rb"[\\()]")


def _parse_obj(lx: _Lexer, doc: "_Doc | None" = None):
    """One COS object at the lexer position."""
    c = lx.peek_byte()
    d = lx.d
    if c == 0x2F:  # /Name
        lx.pos += 1
        start = lx.pos
        while lx.pos < len(d) and d[lx.pos] not in _WS and d[lx.pos] not in _DELIM:
            lx.pos += 1
        raw = d[start : lx.pos]
        # #xx hex escapes in names
        name = re.sub(
            rb"#([0-9a-fA-F]{2})", lambda m: bytes([int(m.group(1), 16)]), raw
        )
        return "/" + name.decode("latin-1")
    if c == 0x28:  # (literal string)
        lx.pos += 1
        out = bytearray()
        depth = 1
        while True:
            if lx.pos >= len(d):
                raise EOFError("unterminated literal string")
            # bulk-copy the span up to the next special byte — content
            # streams are string-heavy and the per-byte loop was the
            # hottest line in the extraction profile (r10)
            m = _STR_SPECIAL.search(d, lx.pos)
            if m is None:
                raise EOFError("unterminated literal string")
            if m.start() > lx.pos:
                out += d[lx.pos : m.start()]
                lx.pos = m.start()
            b = d[lx.pos]
            lx.pos += 1
            if b == 0x5C:  # backslash
                if lx.pos >= len(d):
                    raise EOFError("truncated string escape")
                e = d[lx.pos]
                lx.pos += 1
                mapped = {
                    0x6E: b"\n", 0x72: b"\r", 0x74: b"\t", 0x62: b"\b",
                    0x66: b"\x0c", 0x28: b"(", 0x29: b")", 0x5C: b"\\",
                }.get(e)
                if mapped is not None:
                    out += mapped
                elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                    oct_s = bytes([e])
                    while (
                        len(oct_s) < 3
                        and lx.pos < len(d)
                        and 0x30 <= d[lx.pos] <= 0x37
                    ):
                        oct_s += bytes([d[lx.pos]])
                        lx.pos += 1
                    out.append(int(oct_s, 8) & 0xFF)
                elif e in (0x0A, 0x0D):  # line continuation
                    if e == 0x0D and lx.pos < len(d) and d[lx.pos] == 0x0A:
                        lx.pos += 1
                else:
                    out.append(e)
            elif b == 0x28:
                depth += 1
                out.append(b)
            elif b == 0x29:
                depth -= 1
                if depth == 0:
                    return bytes(out)
                out.append(b)
            else:
                out.append(b)
    if c == 0x3C:  # << dict >> or <hex>
        if d[lx.pos : lx.pos + 2] == b"<<":
            lx.pos += 2
            dct: dict = {}
            while True:
                if lx.peek_byte() == 0x3E:
                    if d[lx.pos : lx.pos + 2] != b">>":
                        raise ValueError(f"bad dict close at {lx.pos}")
                    lx.pos += 2
                    break
                key = _parse_obj(lx, doc)
                if not isinstance(key, str) or not key.startswith("/"):
                    raise ValueError(f"dict key is not a name: {key!r}")
                dct[key] = _parse_obj(lx, doc)
            # stream?
            save = lx.pos
            lx._skip_ws()
            if d[lx.pos : lx.pos + 6] == b"stream":
                lx.pos += 6
                if d[lx.pos : lx.pos + 2] == b"\r\n":
                    lx.pos += 2
                elif d[lx.pos : lx.pos + 1] == b"\n":
                    lx.pos += 1
                length = dct.get("/Length")
                if isinstance(length, Ref):
                    if doc is None:
                        raise ValueError("indirect /Length outside document")
                    length = doc.get(length)
                if not isinstance(length, int):
                    raise ValueError("stream without numeric /Length")
                raw = d[lx.pos : lx.pos + length]
                if len(raw) != length:
                    raise EOFError("truncated stream payload")
                lx.pos += length
                lx._skip_ws()
                if d[lx.pos : lx.pos + 9] != b"endstream":
                    raise ValueError("stream missing endstream")
                lx.pos += 9
                return Stream(dct, raw)
            lx.pos = save
            return dct
        lx.pos += 1  # <hex>
        end = d.find(b">", lx.pos)
        if end < 0:
            raise EOFError("unterminated hex string")
        hx = bytes(b for b in d[lx.pos : end] if b not in _WS)
        lx.pos = end + 1
        if len(hx) % 2:
            hx += b"0"
        return bytes.fromhex(hx.decode("ascii"))
    if c == 0x5B:  # [ array ]
        lx.pos += 1
        arr = []
        while lx.peek_byte() != 0x5D:
            arr.append(_parse_obj(lx, doc))
        lx.pos += 1
        return arr
    if c in (0x5D, 0x3E, 0x29):
        raise ValueError(f"unexpected closing delimiter at {lx.pos}")
    tok = lx.token()
    if tok == b"true":
        return True
    if tok == b"false":
        return False
    if tok == b"null":
        return None
    if _NUM.match(tok):
        # possible indirect reference: INT INT R
        if b"." not in tok:
            save = lx.pos
            try:
                t2 = lx.token()
                if _NUM.match(t2) and b"." not in t2:
                    t3 = lx.token()
                    if t3 == b"R":
                        return Ref(int(tok), int(t2))
                lx.pos = save
            except (ValueError, EOFError):
                lx.pos = save
            return int(tok)
        return float(tok)
    raise ValueError(f"unknown token {tok[:20]!r}")


def _png_unpredict(data: bytes, colors: int, columns: int) -> bytes:
    """Undo PNG row predictors over ``columns`` samples of ``colors``
    bytes (xref streams use Up almost exclusively; None/Sub handled)."""
    rb = colors * columns
    if len(data) % (rb + 1):
        raise ValueError("predicted data is not a whole number of rows")
    out = bytearray()
    prev = bytearray(rb)
    for off in range(0, len(data), rb + 1):
        ft = data[off]
        row = bytearray(data[off + 1 : off + 1 + rb])
        if ft == 0:
            pass
        elif ft == 1:
            for i in range(colors, rb):
                row[i] = (row[i] + row[i - colors]) & 0xFF
        elif ft == 2:
            for i in range(rb):
                row[i] = (row[i] + prev[i]) & 0xFF
        else:
            raise NotImplementedError(f"xref predictor filter {ft}")
        out += row
        prev = row
    return bytes(out)


def _decode_stream(st: Stream, doc: "_Doc | None" = None) -> bytes:
    filters = st.meta.get("/Filter")
    if filters is None:
        return st.raw
    if not isinstance(filters, list):
        filters = [filters]
    parms = st.meta.get("/DecodeParms")
    if not isinstance(parms, list):
        parms = [parms] * len(filters)
    data = st.raw
    for f, p in zip(filters, parms):
        if doc is not None:
            if isinstance(f, Ref):
                f = doc.get(f)
            if isinstance(p, Ref):
                p = doc.get(p)
        if f == "/FlateDecode":
            try:
                data = zlib.decompress(data)
            except zlib.error as e:
                raise ValueError(f"bad FlateDecode stream: {e}") from None
            if isinstance(p, dict):
                pred = p.get("/Predictor", 1)
                if isinstance(pred, int) and pred >= 10:
                    data = _png_unpredict(
                        data, p.get("/Colors", 1), p.get("/Columns", 1)
                    )
                elif pred not in (None, 1):
                    raise NotImplementedError(f"predictor {pred}")
        elif f == "/ASCIIHexDecode":
            hx = bytes(b for b in data.split(b">")[0] if b not in _WS)
            if len(hx) % 2:
                hx += b"0"
            data = bytes.fromhex(hx.decode("ascii"))
        else:
            raise NotImplementedError(f"stream filter {f} is not decoded")
    return data


class _Doc:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.offsets: dict[int, int] = {}  # obj num -> byte offset
        self.in_objstm: dict[int, tuple[int, int]] = {}  # num -> (stm num, idx)
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}

    def get(self, ref):
        if not isinstance(ref, Ref):
            return ref
        num = ref.num
        if num in self._cache:
            return self._cache[num]
        if num in self.offsets:
            lx = _Lexer(self.data, self.offsets[num])
            n = int(lx.token())
            _g = int(lx.token())
            kw = lx.token()
            if n != num or kw != b"obj":
                raise ValueError(f"object {num}: header mismatch at xref offset")
            obj = _parse_obj(lx, self)
        elif num in self.in_objstm:
            stm_num, idx = self.in_objstm[num]
            stm = self.get(Ref(stm_num, 0))
            if not isinstance(stm, Stream) or stm.meta.get("/Type") != "/ObjStm":
                raise ValueError(f"object {num}: container {stm_num} is not ObjStm")
            payload = _decode_stream(stm, self)
            n_objs = stm.meta["/N"]
            first = stm.meta["/First"]
            hdr = _Lexer(payload)
            pairs = [(int(hdr.token()), int(hdr.token())) for _ in range(n_objs)]
            onum, ooff = pairs[idx]
            if onum != num:
                raise ValueError(f"ObjStm pair mismatch for object {num}")
            obj = _parse_obj(_Lexer(payload, first + ooff), self)
        else:
            return None  # the free-object convention
        self._cache[num] = obj
        return obj


def _parse_xref_at(doc: _Doc, pos: int, seen: set[int]) -> None:
    """Parse one xref section (table or stream) + its /Prev chain."""
    if pos in seen:
        return
    seen.add(pos)
    d = doc.data
    lx = _Lexer(d, pos)
    if d[lx.pos : lx.pos + 4] == b"xref" or d.startswith(b"xref", pos):
        lx.pos = pos + 4
        while True:
            lx._skip_ws()
            if d.startswith(b"trailer", lx.pos):
                lx.pos += 7
                tr = _parse_obj(lx, doc)
                for k, v in tr.items():
                    doc.trailer.setdefault(k, v)
                prev = tr.get("/Prev")
                if isinstance(prev, int):
                    _parse_xref_at(doc, prev, seen)
                if "/XRefStm" in tr:  # hybrid file
                    _parse_xref_at(doc, tr["/XRefStm"], seen)
                return
            start = int(lx.token())
            count = int(lx.token())
            lx._skip_ws()
            for i in range(count):
                ent = d[lx.pos : lx.pos + 20]
                if len(ent) < 18:
                    raise EOFError("truncated xref entry")
                off, _gen, typ = int(ent[:10]), int(ent[11:16]), ent[17:18]
                if typ == b"n":
                    doc.offsets.setdefault(start + i, off)
                elif typ != b"f":
                    raise ValueError(f"bad xref entry type {typ!r}")
                # entries are nominally 20 bytes ("... n sp eol" with a
                # 2-char EOL — ISO 32000 §7.5.4 permits ' \r', ' \n' and
                # '\r\n'); advance by the fixed width when bytes 18-19
                # are one of those, and only fall back to an EOL scan for
                # legacy 19-byte entries — a bare-'\r' entry must NOT
                # jump to some later '\n' and skip entries
                if ent[18:20] in (b" \r", b" \n", b"\r\n"):
                    lx.pos += 20
                else:
                    j = lx.pos + 18
                    while j < len(d) and d[j] not in (0x0A, 0x0D):
                        j += 1
                    if j < len(d) and d[j] == 0x0D and d[j + 1 : j + 2] == b"\n":
                        j += 1
                    lx.pos = j + 1
        return
    # xref STREAM: "N G obj << /Type /XRef ... >> stream"
    _num = int(lx.token())
    _gen = int(lx.token())
    if lx.token() != b"obj":
        raise ValueError(f"no xref table or stream at offset {pos}")
    st = _parse_obj(lx, doc)
    if not isinstance(st, Stream) or st.meta.get("/Type") != "/XRef":
        raise ValueError(f"object at startxref {pos} is not an XRef stream")
    for k, v in st.meta.items():
        if k not in ("/Type", "/W", "/Index", "/Filter", "/DecodeParms", "/Length"):
            doc.trailer.setdefault(k, v)
    payload = _decode_stream(st, doc)
    w = st.meta["/W"]
    if not (isinstance(w, list) and len(w) == 3):
        raise ValueError("XRef stream /W must be a 3-array")
    w0, w1, w2 = w
    rec = w0 + w1 + w2
    index = st.meta.get("/Index", [0, st.meta["/Size"]])
    entries = [
        payload[i : i + rec] for i in range(0, len(payload) - rec + 1, rec)
    ]
    it = iter(entries)
    for s in range(0, len(index), 2):
        start, count = index[s], index[s + 1]
        for i in range(count):
            try:
                e = next(it)
            except StopIteration:
                raise EOFError("XRef stream shorter than /Index") from None
            typ = int.from_bytes(e[:w0], "big") if w0 else 1
            f2 = int.from_bytes(e[w0 : w0 + w1], "big")
            f3 = int.from_bytes(e[w0 + w1 :], "big")
            num = start + i
            if typ == 1:
                doc.offsets.setdefault(num, f2)
            elif typ == 2:
                doc.in_objstm.setdefault(num, (f2, f3))
            elif typ != 0:
                raise ValueError(f"XRef stream entry type {typ}")
    prev = st.meta.get("/Prev")
    if isinstance(prev, int):
        _parse_xref_at(doc, prev, seen)


def _open(data: bytes) -> _Doc:
    if not data.startswith(b"%PDF-"):
        raise ValueError("missing %PDF header")
    tail = data[-256:]
    i = tail.rfind(b"startxref")
    if i < 0:
        raise EOFError("missing startxref")
    lx = _Lexer(tail, i + 9)
    xref_pos = int(lx.token())
    if xref_pos >= len(data):
        raise EOFError("startxref beyond end of file")
    doc = _Doc(data)
    _parse_xref_at(doc, xref_pos, set())
    if "/Encrypt" in doc.trailer:
        raise NotImplementedError("encrypted PDFs are not decoded")
    if "/Root" not in doc.trailer:
        raise ValueError("trailer missing /Root")
    return doc


def _walk_pages(doc: _Doc, node_ref, out: list) -> None:
    node = doc.get(node_ref)
    if not isinstance(node, dict):
        raise ValueError("page tree node is not a dictionary")
    t = node.get("/Type")
    if t == "/Pages":
        for kid in doc.get(node["/Kids"]):
            _walk_pages(doc, kid, out)
    elif t == "/Page":
        out.append(node)
    else:
        raise ValueError(f"unexpected page tree node type {t}")



_CS_TOK = re.compile(
    rb"[\x00\t\n\f\r ]+"
    rb"|(?P<num>[+-]?(?:\d+\.?\d*|\.\d+))"
    rb"|(?P<name>/[^\x00\t\n\f\r ()<>\[\]{}/%]*)"
    rb"|(?P<op>[A-Za-z'\"][A-Za-z0-9*'\"]*)"
    rb"|(?P<aopen>\[)|(?P<aclose>\])"
    rb"|(?P<sstr>\((?:[^()\\\\]*)\))"
    rb"|(?P<lstr>\()"
    rb"|(?P<dct><<)"
    rb"|(?P<hstr><[^<>]*>)"
    rb"|(?P<cmt>%[^\r\n]*)"
)


def _page_text(doc: _Doc, page: dict) -> str:
    """Interpret the page's content stream(s) with a single-pass regex
    scanner (the generic COS lexer costs ~3 Python calls per token;
    content streams are token soup, so a dedicated scanner is the
    extraction-throughput lever — r10 profile). Literal strings and
    inline dicts fall back to the generic ``_parse_obj`` at the same
    offset, so semantics match the lexer exactly."""
    contents = doc.get(page.get("/Contents"))
    if contents is None:
        return ""
    if isinstance(contents, list):
        payload = b"\n".join(
            _decode_stream(doc.get(c), doc) for c in contents
        )
    else:
        payload = _decode_stream(contents, doc)

    stack: list = []
    marks: list[int] = []  # array-start indices into stack
    lines: list[list[str]] = []
    cur: list[str] = []
    in_text = False

    def newline() -> None:
        nonlocal cur
        if cur:
            lines.append(cur)
        cur = []

    n = len(payload)
    pos = 0
    while pos < n:
        m = _CS_TOK.match(payload, pos)
        if m is None:
            raise ValueError(
                f"unexpected content-stream byte {payload[pos:pos + 1]!r}"
                f" at offset {pos}"
            )
        pos = m.end()
        kind = m.lastgroup
        if kind is None or kind == "cmt":  # whitespace / comment
            continue
        if kind == "num":
            t = m.group()
            stack.append(float(t) if b"." in t else int(t))
            continue
        if kind == "sstr":  # escape-free, non-nested string: bulk slice
            stack.append(m.group()[1:-1])
            continue
        if kind == "lstr" or kind == "dct":
            lx = _Lexer(payload, m.start())
            stack.append(_parse_obj(lx, doc))
            pos = lx.pos
            continue
        if kind == "hstr":
            hx = bytes(b for b in m.group()[1:-1] if b not in _WS)
            if len(hx) % 2:
                hx += b"0"
            stack.append(bytes.fromhex(hx.decode("ascii")))
            continue
        if kind == "name":
            stack.append("/" + m.group()[1:].decode("latin-1"))
            continue
        if kind == "aopen":
            marks.append(len(stack))
            continue
        if kind == "aclose":
            start = marks.pop() if marks else 0
            arr = stack[start:]
            del stack[start:]
            stack.append(arr)
            continue
        op = m.group().decode("latin-1")
        if op == "BT":
            in_text = True
        elif op == "ET":
            in_text = False
        elif in_text:
            if op == "Tj" and stack:
                s = stack[-1]
                if isinstance(s, bytes):
                    cur.append(s.decode("latin-1"))
            elif op == "TJ" and stack and isinstance(stack[-1], list):
                for el in stack[-1]:
                    if isinstance(el, bytes):
                        cur.append(el.decode("latin-1"))
            elif op in _QUOTE_OPS:
                newline()
                s = stack[-1] if stack else None
                if isinstance(s, bytes):
                    cur.append(s.decode("latin-1"))
            elif op in ("Td", "TD"):
                if len(stack) >= 2 and isinstance(stack[-1], (int, float)):
                    if stack[-1] != 0:
                        newline()
            elif op == "T*":
                newline()
            elif op == "Tm":
                newline()
        stack.clear()
        marks.clear()
    newline()
    return "\n".join("".join(parts) for parts in lines)


_QUOTE_OPS = frozenset(("'", chr(34)))


def analyze_pdf(data: bytes) -> tuple[dict, list[str]]:
    """One parse for both surfaces: (parse_pdf census, extract_text
    pages). ``parse_pdf`` + ``extract_text`` each re-open the document;
    callers that need both (the m24 walk) use this to parse once."""
    doc = _open(data)
    info = _census(doc, data)
    root = doc.get(doc.trailer["/Root"])
    pages: list[dict] = []
    _walk_pages(doc, root["/Pages"], pages)
    return info, [_page_text(doc, p) for p in pages]


def parse_pdf(data: bytes) -> dict:
    """Structural census + metadata: version, page count, object count,
    xref kind(s), stream-filter census, /Info fields."""
    return _census(_open(data), data)


def _census(doc: "_Doc", data: bytes) -> dict:
    m = re.match(rb"%PDF-(\d+\.\d+)", data)
    root = doc.get(doc.trailer["/Root"])
    pages: list[dict] = []
    _walk_pages(doc, root["/Pages"], pages)
    filters: dict[str, int] = {}
    n_streams = 0
    for num in sorted(doc.offsets):
        obj = doc.get(Ref(num, 0))
        if isinstance(obj, Stream):
            n_streams += 1
            fs = obj.meta.get("/Filter")
            for f in fs if isinstance(fs, list) else ([fs] if fs else []):
                filters[f] = filters.get(f, 0) + 1
    info = doc.get(doc.trailer.get("/Info")) or {}
    return {
        "version": m.group(1).decode("ascii") if m else None,
        "n_pages": len(pages),
        "n_objects": len(doc.offsets) + len(doc.in_objstm),
        "n_compressed_objects": len(doc.in_objstm),
        "n_streams": n_streams,
        "filters": filters,
        "title": info.get("/Title", b"").decode("latin-1") or None,
        "producer": info.get("/Producer", b"").decode("latin-1") or None,
        "uses_xref_stream": bool(doc.in_objstm)
        or any(
            isinstance(doc.get(Ref(n, 0)), Stream)
            and doc.get(Ref(n, 0)).meta.get("/Type") == "/XRef"
            for n in doc.offsets
        ),
    }


def extract_text(data: bytes) -> list[str]:
    """Per-page extracted text (lines joined by newlines)."""
    doc = _open(data)
    root = doc.get(doc.trailer["/Root"])
    pages: list[dict] = []
    _walk_pages(doc, root["/Pages"], pages)
    return [_page_text(doc, p) for p in pages]


# ---------------------------------------------------------------------------
# writer (fixture side)
# ---------------------------------------------------------------------------


def _esc(s: str) -> bytes:
    b = s.encode("latin-1")
    return b.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")


def build_pdf(
    pages: list[list[str]],
    *,
    compress: bool = False,
    xref_stream: bool = False,
    objstm: bool = False,
    title: str | None = None,
    use_tj_array: bool = False,
) -> bytes:
    """A deterministic PDF: one content stream per page, each inner list
    entry one text line (Td line moves). ``compress`` FlateDecodes the
    content streams; ``xref_stream`` emits a cross-reference STREAM with
    the Up predictor instead of a classic table; ``objstm`` additionally
    packs the catalog/pages/font/info dictionaries into a compressed
    object stream (the PDF 1.5+ layout — requires ``xref_stream``);
    ``use_tj_array`` splits each line into a kerned TJ array."""
    if objstm and not xref_stream:
        raise ValueError("objstm requires xref_stream (type-2 entries)")
    objs: dict[int, bytes] = {}
    page_count = len(pages)
    # 1 catalog, 2 pages, 3 font, (4..) page+content pairs, info last
    kids = []
    next_num = 4
    for pg in pages:
        page_num, content_num = next_num, next_num + 1
        next_num += 2
        kids.append(f"{page_num} 0 R")
        ops = [b"BT /F1 12 Tf 72 720 Td 14 TL"]
        for i, line in enumerate(pg):
            if i:
                ops.append(b"0 -14 Td")
            if use_tj_array and " " in line:
                head, tail = line.split(" ", 1)
                ops.append(
                    b"[(" + _esc(head) + b") -278 (" + _esc(" " + tail) + b")] TJ"
                )
            else:
                ops.append(b"(" + _esc(line) + b") Tj")
        ops.append(b"ET")
        payload = b"\n".join(ops)
        meta = b""
        if compress:
            payload = zlib.compress(payload, 6)
            meta = b" /Filter /FlateDecode"
        objs[content_num] = (
            b"<< /Length " + str(len(payload)).encode() + meta + b" >>\nstream\n"
            + payload
            + b"\nendstream"
        )
        objs[page_num] = (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> /Contents "
            + str(content_num).encode() + b" 0 R >>"
        )
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = (
        b"<< /Type /Pages /Kids [" + " ".join(kids).encode() + b"] /Count "
        + str(page_count).encode() + b" >>"
    )
    objs[3] = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding /WinAnsiEncoding >>"
    )
    info_num = None
    if title is not None:
        info_num = next_num
        next_num += 1
        objs[info_num] = (
            b"<< /Title (" + _esc(title) + b") /Producer (tectonic-spark) >>"
        )

    out = bytearray(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    packed: dict[int, tuple[int, int]] = {}  # num -> (objstm num, index)
    if objstm:
        pack_nums = sorted(
            n for n in objs if not objs[n].lstrip().startswith(b"<< /Length")
        )
        stm_num = next_num
        next_num += 1
        body = bytearray()
        pairs = []
        for n in pack_nums:
            pairs.append(f"{n} {len(body)}")
            body += objs.pop(n) + b"\n"
        header = (" ".join(pairs) + "\n").encode()
        payload = zlib.compress(header + bytes(body), 6)
        objs[stm_num] = (
            b"<< /Type /ObjStm /N " + str(len(pack_nums)).encode()
            + b" /First " + str(len(header)).encode()
            + b" /Filter /FlateDecode /Length " + str(len(payload)).encode()
            + b" >>\nstream\n" + payload + b"\nendstream"
        )
        packed = {n: (stm_num, i) for i, n in enumerate(pack_nums)}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n"

    size = max(max(objs), max(packed, default=0)) + (2 if xref_stream else 1)
    trailer_extra = b""
    if info_num is not None:
        trailer_extra = b" /Info " + str(info_num).encode() + b" 0 R"
    if not xref_stream:
        xref_pos = len(out)
        out += b"xref\n" + f"0 {size}\n".encode()
        out += b"0000000000 65535 f \n"
        for num in range(1, size):
            out += f"{offsets[num]:010d} 00000 n \n".encode()
        out += (
            b"trailer\n<< /Size " + str(size).encode()
            + b" /Root 1 0 R" + trailer_extra + b" >>\nstartxref\n"
            + str(xref_pos).encode() + b"\n%%EOF\n"
        )
        return bytes(out)
    # cross-reference STREAM with the Up predictor (type/offset/gen, W=[1 4 2])
    xnum = size - 1
    rows = [b"\x00" + (0).to_bytes(4, "big") + (65535).to_bytes(2, "big")]
    xref_pos = len(out)
    offsets[xnum] = xref_pos
    for num in range(1, size):
        if num in packed:
            stm_num, idx = packed[num]
            rows.append(
                b"\x02" + stm_num.to_bytes(4, "big") + idx.to_bytes(2, "big")
            )
        elif num in offsets:
            rows.append(
                b"\x01" + offsets[num].to_bytes(4, "big") + (0).to_bytes(2, "big")
            )
        else:  # pragma: no cover — contiguous numbering leaves no holes
            rows.append(b"\x00" + bytes(6))
    rb = 7
    pred = bytearray()
    prev = bytes(rb)
    for row in rows:
        pred.append(2)  # Up
        pred += bytes((row[i] - prev[i]) & 0xFF for i in range(rb))
        prev = row
    payload = zlib.compress(bytes(pred), 6)
    st = (
        f"{xnum} 0 obj\n".encode()
        + b"<< /Type /XRef /Size " + str(size).encode()
        + b" /W [1 4 2] /Root 1 0 R" + trailer_extra
        + b" /Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 7 >>"
        + b" /Length " + str(len(payload)).encode() + b" >>\nstream\n"
        + payload + b"\nendstream\nendobj\n"
    )
    out += st
    out += b"startxref\n" + str(xref_pos).encode() + b"\n%%EOF\n"
    return bytes(out)
