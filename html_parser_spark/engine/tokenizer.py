"""WHATWG HTML5 tokenizer (from the public spec, §13.2.5).

Capability parity with the reference's 80-state generator tokenizer
(/root/reference/lib/Parser/Tokenizer.php:23-102,245), re-designed around
the run-span idiom: precompiled regexes advance the cursor by maximal runs
of uninteresting characters instead of one state-step per character — the
Python analogue of the reference's ``consumeWhile``/``consumeUntil``
optimization (/root/reference/lib/Parser/Data.php:209-229) and the single
most important throughput decision for a pure-Python tokenizer
(SURVEY.md §4.1).

Token encoding (plain tuples, first element is an int kind):

    (CHARS, text)                         # never contains U+0000
    (NULLS, count)                        # run of raw U+0000 from data/CDATA
    (START, name, attrs_dict, self_closing)
    (END, name)
    (COMMENT, text)
    (DOCTYPE, name|None, public|None, system|None, force_quirks)
    (EOF,)

The tree builder switches ``self.state`` for RCDATA/RAWTEXT/script/PLAINTEXT
(feedback channel 1 of SURVEY.md §3.4) and supplies ``cdata_ok`` so CDATA
sections are only honored in foreign content (feedback channel 2; parity:
/root/reference/lib/Parser/Tokenizer.php:2074).

The generator is not the only reader of the data state. After the
generator yields a START or END token it resumes by re-reading ``pos``
and ``state``, so from there ``TreeBuilder.run``'s direct lane matches
``_DATA_CHUNK`` on ``s`` itself and builds the clean text pieces and bare
tags that follow, keeping ``pos`` and ``last_start_tag`` exactly as this
generator would; it hands back to the generator at anything else.
"""

from __future__ import annotations

import re
import sys
from html.entities import html5 as _HTML5_ENTITIES

# token kinds
CHARS = 1
NULLS = 2
START = 3
END = 4
COMMENT = 5
DOCTYPE = 6
EOF = 7

# externally settable tokenizer states (feedback channel from the tree builder)
DATA = 0
RCDATA = 1
RAWTEXT = 2
SCRIPT_DATA = 3
PLAINTEXT = 4
CDATA_SECTION = 5

_WS = "\t\n\f "

_RCDATA_RUN = re.compile(r"[^&<\x00]+")
_RAWTEXT_RUN = re.compile(r"[^<\x00]+")
_ESCAPED_RUN = re.compile(r"[^<\x00-]+")
_TAGNAME_RUN = re.compile(r"[^\t\n\f />]+")
# data-state fused fast path: one C-level match consumes a clean text
# run AND, when one follows immediately, a complete bare `<name>` /
# `</name>` (no attrs, no solidus, no NUL) — the dominant byte shape
# of text-heavy html. Anything else (charref, NUL, tag with attributes,
# markup declaration) falls back to the general per-state dispatch.
# Group 1 never admits '<', so the optional tag group cannot backtrack
# into it.
_DATA_CHUNK = re.compile(
    r"([^&<\x00]*)(?:<(/?)([a-zA-Z][^\t\n\f />\x00]*)>)?")
_ATTRNAME_RUN = re.compile(r"[^\t\n\f /=>]+")
_ATTRVAL_DQ = re.compile(r'[^"&\x00]+')
_ATTRVAL_SQ = re.compile(r"[^'&\x00]+")
_ATTRVAL_UQ = re.compile(r"[^\t\n\f >&\x00]+")
_COMMENT_RUN = re.compile(r"[^-\x00]+")
# input-stream preprocessing: C0 controls minus NUL/HT/LF/FF/CR, DEL,
# C1 controls, surrogates, and BMP noncharacters. Kept BMP-only: sre
# scans a BMP character class at ~300 MB/s but drops to ~20 MB/s the
# moment the class contains an astral member, so the 32 astral
# noncharacters get their own class, searched only for strings proven
# (by the O(1) width check in _scan_input_stream) to contain astral
# characters at all.
_BAD_BMP_RE = re.compile(
    "[\x01-\x08\x0b\x0e-\x1f\x7f-\x9f\ud800-\udfff﷐-﷯"
    "￾￿]")
_BAD_ASTRAL_RE = re.compile(
    "[" + "".join(chr(0x10000 * p + o) for p in range(1, 17)
                  for o in (0xFFFE, 0xFFFF)) + "]")
# the members of _BAD_BMP_RE's class an ASCII string can hold: deleting
# them with bytes.translate runs several times faster than the regex
# search, so an ASCII string is checked slice by slice and only a slice
# that shrinks is searched with the regex. Bounded slices keep the
# encoded copies small on multi-MB pages.
_BAD_ASCII = (bytes(range(0x01, 0x09)) + b"\x0b" + bytes(range(0x0e, 0x20))
              + b"\x7f")
_SCAN_CHUNK = 1 << 16
_BOGUS_RUN = re.compile(r"[^>\x00]+")
_ALPHA_RUN = re.compile(r"[A-Za-z]+")
_ENTITY_CANDIDATE = re.compile(r"[A-Za-z][A-Za-z0-9]{0,40}")
_DEC_RUN = re.compile(r"[0-9]+")
_HEX_RUN = re.compile(r"[0-9A-Fa-f]+")
_NUL_RUN = re.compile(r"\x00+")
_WS_RUN = re.compile(r"[\t\n\f ]+")
_DOCTYPE_NAME_RUN = re.compile(r"[^\t\n\f >]+")

_MAX_ENTITY_LEN = max(len(k) for k in _HTML5_ENTITIES)

# Windows-1252 remap for numeric character references in the C1 range
# (public table from WHATWG HTML §13.2.5.80).
_C1_REMAP = {
    0x80: 0x20AC, 0x82: 0x201A, 0x83: 0x0192, 0x84: 0x201E, 0x85: 0x2026,
    0x86: 0x2020, 0x87: 0x2021, 0x88: 0x02C6, 0x89: 0x2030, 0x8A: 0x0160,
    0x8B: 0x2039, 0x8C: 0x0152, 0x8E: 0x017D, 0x91: 0x2018, 0x92: 0x2019,
    0x93: 0x201C, 0x94: 0x201D, 0x95: 0x2022, 0x96: 0x2013, 0x97: 0x2014,
    0x98: 0x02DC, 0x99: 0x2122, 0x9A: 0x0161, 0x9B: 0x203A, 0x9C: 0x0153,
    0x9E: 0x017E, 0x9F: 0x0178,
}

_ASCII_UPPER = str.maketrans("ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")


_LOWER_CACHE: dict = {}


def _lower(s: str) -> str:
    """ASCII-only lowercase (WHATWG lowercasing never touches non-ASCII).

    Memoized: real html repeats a small vocabulary of tag/attr names
    millions of times, and returning the SAME string object also makes
    downstream dict/set probes identity-fast. Bounded to typical
    vocabularies; cleared if it ever grows pathological."""
    v = _LOWER_CACHE.get(s)
    if v is None:
        if len(_LOWER_CACHE) > 4096:
            _LOWER_CACHE.clear()
        v = _LOWER_CACHE[s] = s.translate(_ASCII_UPPER)
    return v


def positions_from_offsets(s: str, codes: list[str],
                           offsets: list[int]) -> list[tuple[str, int, int]]:
    """[(code, line, col)] with 1-based line/col from 0-based character
    offsets, matching the html5lib/reference error format
    (ParseErrorEmitter.php:62-69). Shared by the tokenizer's and the
    tree builder's position tracking."""
    if not codes:
        return []  # skip the O(doc) newline scan for clean documents
    from bisect import bisect_left
    nls = [i for i, ch in enumerate(s) if ch == "\n"]
    out = []
    for code, off in zip(codes, offsets):
        k = bisect_left(nls, off)
        line = k + 1
        col = off - nls[k - 1] if k else off + 1
        out.append((code, line, col))
    return out


def no_cdata() -> bool:
    """The default ``cdata_ok`` probe: a ``<![CDATA[`` outside foreign
    content is a bogus comment."""
    return False


class Tokenizer:
    """Generator-based tokenizer over a decoded, CR-normalized string."""

    __slots__ = ("s", "n", "pos", "state", "last_start_tag", "cdata_ok",
                 "errors", "offsets")

    def __init__(self, text: str, initial_state: int = DATA,
                 last_start_tag: str | None = None,
                 track_positions: bool = False):
        # input-stream preprocessing (spec 13.2.3.5): CRLF/CR → LF.
        # parse() already normalizes during decode, so this scan is a
        # no-op there (idempotent); it makes the STANDALONE tokenizer
        # spec-correct too — without it "<div a\r\nb=c>" kept a raw CR
        # inside the attribute name (found by hand tokenizer batch 2)
        if "\r" in text:
            text = text.replace("\r\n", "\n").replace("\r", "\n")
        self.s = text
        self.n = len(text)
        self.pos = 0
        self.state = initial_state
        self.last_start_tag = last_start_tag
        self.cdata_ok = no_cdata
        self.errors: list[str] = []
        # line/col tracking is debug/conformance-only, mirroring the
        # reference's gating (no position bookkeeping without an error
        # handler — Data.php:56-57): the production path pays nothing
        self.offsets: list[int] | None = [] if track_positions else None

    def error(self, code: str, at: int | None = None) -> None:
        """``at`` is the 0-based offset of the input character the
        error points at (html5lib convention: the current input
        character; EOF errors point one past the end). Sites exercised
        by position-asserting fixtures pass it explicitly; elsewhere
        the current scan position is recorded as an approximation."""
        self.errors.append(code)
        if self.offsets is not None:
            if at is None:
                # EOF errors always point one past the last character
                at = self.n if code.startswith("eof-") else self.pos
            self.offsets.append(at)

    def error_positions(self) -> list[tuple[str, int, int]]:
        """[(code, line, col)] with 1-based line/col, matching the
        html5lib/reference error format (ParseErrorEmitter.php:62-69).
        Only valid when constructed with track_positions=True."""
        return positions_from_offsets(self.s, self.errors, self.offsets)

    # ------------------------------------------------------------------ #
    # character references (WHATWG §13.2.5.72-80, as a subroutine — same
    # structuring decision as the reference, Tokenizer.php:3356-3699)
    # ------------------------------------------------------------------ #

    def _named_charref(self, in_attr: bool) -> str:
        """Called with self.pos just after '&' (and not at '#'). Returns
        replacement text or '&' (leaving pos untouched on no-match)."""
        s, pos, n = self.s, self.pos, self.n
        m = _ENTITY_CANDIDATE.match(s, pos)
        if m is None:
            return "&"
        cand = m.group()
        run_end = pos + len(cand)
        # entity names are pure alnum, so a ';'-terminated form can only
        # match when the full run is followed by ';' in the input
        if run_end < n and s[run_end] == ";":
            probe = cand + ";"
            if probe in _HTML5_ENTITIES:
                self.pos = run_end + 1
                return _HTML5_ENTITIES[probe]
        # longest-prefix probe of the semicolon-less legacy names
        for ln in range(min(len(cand), _MAX_ENTITY_LEN), 0, -1):
            probe = cand[:ln]
            if probe in _HTML5_ENTITIES:
                nxt = s[pos + ln] if pos + ln < n else ""
                if in_attr and (nxt == "=" or (nxt.isascii() and nxt.isalnum())):
                    # historical rule: not a charref inside attributes
                    return "&"
                # points at the char where ';' was expected
                self.error("missing-semicolon-after-character-reference",
                           at=pos + ln)
                self.pos = pos + ln
                return _HTML5_ENTITIES[probe]
        if run_end < n and s[run_end] == ";":
            self.error("unknown-named-character-reference", at=run_end)
        return "&"

    def _charref_or_raw(self, in_attr: bool) -> str:
        """'&' seen: self.pos points at the char after '&'."""
        s, pos = self.s, self.pos
        if pos < self.n and s[pos] == "#":
            save = self.pos
            self.pos += 1
            hexmode = self.pos < self.n and s[self.pos] in "xX"
            probe_at = self.pos + (1 if hexmode else 0)
            m = (_HEX_RUN if hexmode else _DEC_RUN).match(s, probe_at)
            if m is None:
                # points where the first digit was expected (the
                # decimal/hex charref start state's current char)
                self.error("absence-of-digits-in-numeric-character-reference",
                           at=probe_at)
                self.pos = save + (2 if hexmode else 1)
                return "&" + s[save:self.pos]
            self.pos = save
            return self._numeric_charref_full(hexmode)
        return self._named_charref(in_attr)

    def _numeric_charref_full(self, hexmode: bool) -> str:
        s, n = self.s, self.n
        pos = self.pos + (2 if hexmode else 1)
        m = (_HEX_RUN if hexmode else _DEC_RUN).match(s, pos)
        digits = m.group()
        end = m.end()
        if end < n and s[end] == ";":
            end += 1
        else:
            self.error("missing-semicolon-after-character-reference", at=end)
        self.pos = end
        value = int(digits, 16 if hexmode else 10)
        if value == 0:
            self.error("null-character-reference")
            return "�"
        if value > 0x10FFFF:
            self.error("character-reference-outside-unicode-range")
            return "�"
        if 0xD800 <= value <= 0xDFFF:
            self.error("surrogate-character-reference")
            return "�"
        if 0x80 <= value <= 0x9F:
            if value in _C1_REMAP:
                self.error("control-character-reference")
                return chr(_C1_REMAP[value])
            self.error("control-character-reference")
            return chr(value)
        if (0xFDD0 <= value <= 0xFDEF) or (value & 0xFFFE) == 0xFFFE:
            self.error("noncharacter-character-reference")
        elif value < 0x20 and value not in (0x09, 0x0A, 0x0C):
            self.error("control-character-reference")
        return chr(value)

    # ------------------------------------------------------------------ #
    # main generator
    # ------------------------------------------------------------------ #

    def _scan_input_stream(self) -> None:
        """Input-stream preprocessing errors (WHATWG §13.2.3.5;
        reference Data.php character checks): surrogates,
        noncharacters, and controls other than NUL/whitespace. An ASCII
        string is checked with ``bytes.translate`` over bounded slices
        and only a slice holding a bad byte is searched with the regex;
        any other string gets one C-level BMP regex search on the clean
        path. The astral-noncharacter class is consulted only when the
        CPython compact-str width shows the string can hold astral
        characters at all (a UCS-1/2 string provably cannot)."""
        s = self.s
        if not s:
            return
        hits = []
        if s.isascii():
            for i in range(0, len(s), _SCAN_CHUNK):
                b = s[i:i + _SCAN_CHUNK].encode("ascii")
                if len(b.translate(None, _BAD_ASCII)) != len(b):
                    hits += _BAD_BMP_RE.finditer(s, i, i + _SCAN_CHUNK)
        else:
            if _BAD_BMP_RE.search(s) is not None:
                hits = list(_BAD_BMP_RE.finditer(s))
            if sys.getsizeof(s) >= 4 * len(s):
                astral = list(_BAD_ASTRAL_RE.finditer(s))
                if astral:
                    hits = sorted(hits + astral, key=lambda m: m.start())
        for m in hits:
            o = ord(m.group())
            if 0xD800 <= o <= 0xDFFF:
                code = "surrogate-in-input-stream"
            elif 0xFDD0 <= o <= 0xFDEF or (o & 0xFFFE) == 0xFFFE:
                code = "noncharacter-in-input-stream"
            else:
                code = "control-character-in-input-stream"
            self.error(code, at=m.start())

    def tokenize(self):
        s = self.s
        n = self.n
        lower_get = _LOWER_CACHE.get  # the cache is cleared, never rebound
        self._scan_input_stream()
        while True:
            state = self.state
            pos = self.pos
            if pos >= n:
                yield (EOF,)
                return
            if state == DATA:
                # text accumulation: the overwhelmingly common shape is
                # ONE clean run then a delimiter, so the single piece is
                # held as a plain str and a list+join materializes only
                # when a charref actually splits the run
                text: str | None = None
                buf: list[str] | None = None
                tag_tok = None
                lt_pos = 0
                while pos < n:
                    piece, slash, raw = _DATA_CHUNK.match(s, pos).groups()
                    if piece:
                        if text is None:
                            text = piece
                        elif buf is None:
                            buf = [text, piece]
                        else:
                            buf.append(piece)
                    pos += len(piece)
                    if raw is not None:
                        # fused bare-tag hit: token built here, no
                        # _tag_name call, no attribute loop. lt_pos
                        # (the '<') is where self.pos must sit while
                        # the preceding CHARS token is processed —
                        # tree errors blame tokenizer.pos-1. The match
                        # ends after '<', the optional '/', the name
                        # and '>'.
                        lt_pos = pos
                        pos += len(slash) + len(raw) + 2
                        name = lower_get(raw)
                        if name is None:
                            name = _lower(raw)
                        if slash:
                            tag_tok = (END, name)
                        else:
                            self.last_start_tag = name
                            tag_tok = (START, name, {}, False)
                        break
                    if pos >= n:
                        break
                    c = s[pos]
                    if c == "&":
                        self.pos = pos + 1
                        piece = self._charref_or_raw(False)
                        if text is None:
                            text = piece
                        elif buf is None:
                            buf = [text, piece]
                        else:
                            buf.append(piece)
                        pos = self.pos
                    elif c == "\x00":
                        if buf is not None:
                            yield (CHARS, "".join(buf))
                            text = buf = None
                        elif text is not None:
                            yield (CHARS, text)
                            text = None
                        m2 = _NUL_RUN.match(s, pos)
                        k = m2.end() - pos
                        for i in range(k):
                            self.error("unexpected-null-character",
                                       at=pos + i)
                        yield (NULLS, k)
                        pos = m2.end()
                    else:  # '<' not opening a bare tag
                        break
                self.pos = lt_pos if tag_tok is not None else pos
                if buf is not None:
                    yield (CHARS, "".join(buf))
                elif text is not None:
                    yield (CHARS, text)
                if tag_tok is not None:
                    self.pos = pos
                    yield tag_tok
                    continue
                if pos >= n:
                    continue
                # '<' with a non-bare shape — plain tags with attributes
                # take the non-generator _tag_name path (generator setup
                # for _tag_open is measurable at ~1 per 40 input bytes)
                p1 = pos + 1
                c1 = s[p1] if p1 < n else ""
                if "a" <= c1 <= "z" or "A" <= c1 <= "Z":
                    self.pos = p1
                    tok = self._tag_name(end_tag=False)
                    if tok is not None:
                        yield tok
                elif c1 == "/":
                    p2 = p1 + 1
                    c2 = s[p2] if p2 < n else ""
                    if "a" <= c2 <= "z" or "A" <= c2 <= "Z":
                        self.pos = p2
                        tok = self._tag_name(end_tag=True)
                        if tok is not None:
                            yield tok
                    else:
                        self.pos = p1
                        tok = yield from self._tag_open()
                        if tok is not None:
                            yield tok
                else:
                    self.pos = p1
                    tok = yield from self._tag_open()
                    if tok is not None:
                        yield tok
            elif state == RCDATA:
                yield from self._rcdata_rawtext(rcdata=True)
            elif state == RAWTEXT:
                yield from self._rcdata_rawtext(rcdata=False)
            elif state == SCRIPT_DATA:
                yield from self._script_data()
            elif state == CDATA_SECTION:
                # initial-state support (html5lib tokenizer suites start
                # here); inline CDATA inside foreign content is handled
                # at the markup-declaration-open site
                yield from self._cdata_section()
                self.state = DATA
            elif state == PLAINTEXT:
                text = s[pos:].replace("\x00", "�")
                off = pos - 1
                for _ in range(s.count("\x00", pos)):
                    off = s.index("\x00", off + 1)
                    self.error("unexpected-null-character", at=off)
                self.pos = n
                if text:
                    yield (CHARS, text)
                yield (EOF,)
                return
            else:  # pragma: no cover - unknown state
                raise AssertionError(f"bad tokenizer state {state}")

    # ------------------------------------------------------------------ #
    # tag machinery (states 6-8, 32-40)
    # ------------------------------------------------------------------ #

    def _tag_open(self):
        """self.pos is just after '<' in data state. Returns a token to emit
        or None; may also emit via internal yields (bogus comments etc.)."""
        s, n = self.s, self.n
        pos = self.pos
        if pos >= n:
            self.error("eof-before-tag-name")
            return (CHARS, "<")
        c = s[pos]
        if c == "!":
            self.pos = pos + 1
            tok = yield from self._markup_declaration_open()
            return tok
        if c == "/":
            pos += 1
            if pos >= n:
                self.error("eof-before-tag-name")
                return (CHARS, "</")
            c = s[pos]
            if c.isascii() and c.isalpha():
                self.pos = pos
                return self._tag_name(end_tag=True)
            if c == ">":
                self.error("missing-end-tag-name", at=pos)
                self.pos = pos + 1
                return None
            self.error("invalid-first-character-of-tag-name", at=pos)
            self.pos = pos
            return self._bogus_comment("")
        if c.isascii() and c.isalpha():
            self.pos = pos
            return self._tag_name(end_tag=False)
        if c == "?":
            self.error("unexpected-question-mark-instead-of-tag-name")
            self.pos = pos
            return self._bogus_comment("", from_pi=True)
        self.error("invalid-first-character-of-tag-name")
        return (CHARS, "<")

    def _tag_name(self, end_tag: bool):
        """Parse tag name + attributes + closing. Returns the tag token or
        None (EOF-in-tag emits nothing, per spec)."""
        s, n = self.s, self.n
        m = _TAGNAME_RUN.match(s, self.pos)
        # fast path: bare `<name>` / `</name>` (the dominant shape in
        # real html) — no attrs, no solidus, no NUL
        if m is not None:
            e = m.end()
            if e < n and s[e] == ">":
                raw = m.group()
                if "\x00" not in raw:
                    self.pos = e + 1
                    name = _lower(raw)
                    if end_tag:
                        return (END, name)
                    self.last_start_tag = name
                    return (START, name, {}, False)
        raw = m.group() if m else ""
        self.pos = m.end() if m else self.pos
        name = _lower(raw)
        if "\x00" in name:
            self.error("unexpected-null-character")
            name = name.replace("\x00", "�")
        attrs: dict[str, str] = {}
        self_closing = False
        while True:
            pos = self.pos
            if pos >= n:
                self.error("eof-in-tag")
                return None
            c = s[pos]
            if c in _WS:
                m = _WS_RUN.match(s, pos)
                self.pos = m.end()
                continue
            if c == "/":
                # self-closing start tag state
                if pos + 1 < n and s[pos + 1] == ">":
                    self_closing = True
                    self.pos = pos + 2
                    break
                if pos + 1 >= n:
                    self.error("eof-in-tag")
                    return None
                # self-closing-start-tag state errors on its current
                # char: the one after the '/'
                self.error("unexpected-solidus-in-tag", at=pos + 1)
                self.pos = pos + 1
                continue
            if c == ">":
                self.pos = pos + 1
                break
            ok = self._attribute(attrs)
            if not ok:
                return None
        if end_tag:
            # parity: end-tag sanitization (Tokenizer.php:210-226);
            # both errors point at the closing '>' (html5lib positions)
            if attrs:
                self.error("end-tag-with-attributes", at=self.pos - 1)
            if self_closing:
                self.error("end-tag-with-trailing-solidus", at=self.pos - 1)
            return (END, name)
        self.last_start_tag = name
        return (START, name, attrs, self_closing)

    def _attribute(self, attrs: dict[str, str]) -> bool:
        """Parse one attribute starting at before-attribute-name (non-ws,
        non-/>). Returns False on EOF-in-tag."""
        s, n = self.s, self.n
        pos = self.pos
        if s[pos] == "=":
            self.error("unexpected-equals-sign-before-attribute-name")
            name = "="
            self.pos = pos + 1
            m = _ATTRNAME_RUN.match(s, self.pos)
            if m is not None:
                name += m.group()
                self.pos = m.end()
        else:
            m = _ATTRNAME_RUN.match(s, pos)
            name = m.group()
            self.pos = m.end()
        name_end = self.pos  # duplicate-attribute points here
        name = _lower(name)
        if "\x00" in name:
            self.error("unexpected-null-character")
            name = name.replace("\x00", "�")
        if '"' in name or "'" in name or "<" in name:
            self.error("unexpected-character-in-attribute-name")
        # after attribute name
        pos = self.pos
        while pos < n and s[pos] in _WS:
            pos += 1
        self.pos = pos
        if pos >= n:
            self.error("eof-in-tag")
            return False
        c = s[pos]
        if c != "=":
            # no value ('/', '>', or the start of the next attribute name)
            self._store_attr(attrs, name, "", name_end)
            return True
        # before attribute value
        pos += 1
        while pos < n and s[pos] in _WS:
            pos += 1
        self.pos = pos
        if pos >= n:
            self.error("eof-in-tag")
            return False
        c = s[pos]
        parts: list[str] = []
        if c in "\"'":
            quote = c
            run = _ATTRVAL_DQ if quote == '"' else _ATTRVAL_SQ
            pos += 1
            while True:
                m = run.match(s, pos)
                if m is not None:
                    parts.append(m.group())
                    pos = m.end()
                if pos >= n:
                    self.error("eof-in-tag")
                    return False
                c = s[pos]
                if c == quote:
                    pos += 1
                    break
                if c == "&":
                    self.pos = pos + 1
                    parts.append(self._charref_or_raw(True))
                    pos = self.pos
                else:  # NUL
                    self.error("unexpected-null-character")
                    parts.append("�")
                    pos += 1
            self.pos = pos
            # after-attribute-value-quoted: must see ws, '/', '>' (or EOF)
            if pos < n and s[pos] not in "\t\n\f />":
                self.error("missing-whitespace-between-attributes")
        else:
            if c == ">":
                self.error("missing-attribute-value")
                self._store_attr(attrs, name, "", name_end)
                return True
            while True:
                m = _ATTRVAL_UQ.match(s, pos)
                if m is not None:
                    chunk = m.group()
                    if any(ch in chunk for ch in "\"'<=`"):
                        # points at the first offending character
                        bad = min(chunk.index(ch) for ch in "\"'<=`"
                                  if ch in chunk)
                        self.error(
                            "unexpected-character-in-unquoted-attribute-value",
                            at=pos + bad)
                    parts.append(chunk)
                    pos = m.end()
                if pos >= n:
                    self.error("eof-in-tag")
                    return False
                c = s[pos]
                if c in "\t\n\f >":
                    break
                if c == "&":
                    self.pos = pos + 1
                    parts.append(self._charref_or_raw(True))
                    pos = self.pos
                else:  # NUL
                    self.error("unexpected-null-character")
                    parts.append("�")
                    pos += 1
            self.pos = pos
        self._store_attr(attrs, name, "".join(parts), name_end)
        return True

    def _store_attr(self, attrs: dict[str, str], name: str, value: str,
                    name_end: int | None = None) -> None:
        # duplicate attributes: first wins (parity: Tokenizer.php:228-243);
        # the error points at the end of the duplicate's name (where the
        # attribute-name state completes and the dup is detectable)
        if name in attrs:
            self.error("duplicate-attribute", at=name_end)
        else:
            attrs[name] = value

    # ------------------------------------------------------------------ #
    # markup declaration open: comments, DOCTYPE, CDATA (states 41-71)
    # ------------------------------------------------------------------ #

    def _markup_declaration_open(self):
        s, n = self.s, self.n
        pos = self.pos
        if s.startswith("--", pos):
            self.pos = pos + 2
            return self._comment()
        if s[pos:pos + 7].lower() == "doctype":
            self.pos = pos + 7
            return self._doctype()
        if s.startswith("[CDATA[", pos):
            if self.cdata_ok():
                self.pos = pos + 7
                yield from self._cdata_section()
                return None
            # position: one past the consumed '[CDATA[' (the state's
            # current char at decision time)
            self.error("cdata-in-html-content", at=pos + 7)
            self.pos = pos
            return self._bogus_comment("")
        self.error("incorrectly-opened-comment")
        return self._bogus_comment("")

    def _bogus_comment(self, prefix: str, from_pi: bool = False):
        s, n = self.s, self.n
        parts = [prefix]
        pos = self.pos
        while pos < n:
            m = _BOGUS_RUN.match(s, pos)
            if m is not None:
                parts.append(m.group())
                pos = m.end()
            if pos >= n:
                break
            if s[pos] == ">":
                pos += 1
                break
            self.error("unexpected-null-character")
            parts.append("�")
            pos += 1
        self.pos = pos
        # 3rd element marks `<?`-origin (the tree builder's optional
        # PI-preservation mode needs the provenance)
        return (COMMENT, "".join(parts), from_pi)

    def _comment(self):
        """self.pos just after '<!--'."""
        s, n = self.s, self.n
        pos = self.pos
        data: list[str] = []
        # comment start / comment start dash special cases
        if pos < n and s[pos] == ">":
            self.error("abrupt-closing-of-empty-comment", at=pos)
            self.pos = pos + 1
            return (COMMENT, "")
        if pos < n and s[pos] == "-" and pos + 1 < n and s[pos + 1] == ">":
            # comment-start-dash sees '>' — error points at the '>'
            self.error("abrupt-closing-of-empty-comment", at=pos + 1)
            self.pos = pos + 2
            return (COMMENT, "")
        while True:
            if pos >= n:
                self.error("eof-in-comment")
                self.pos = pos
                return (COMMENT, "".join(data))
            m = _COMMENT_RUN.match(s, pos)
            if m is not None:
                data.append(m.group())
                pos = m.end()
                continue
            c = s[pos]
            if c == "\x00":
                self.error("unexpected-null-character")
                data.append("�")
                pos += 1
                continue
            # '-' : comment end dash
            pos += 1
            if pos >= n:
                self.error("eof-in-comment")
                self.pos = pos
                return (COMMENT, "".join(data))
            if s[pos] != "-":
                data.append("-")
                continue
            # comment end state ('--' seen); extra dashes stay in data.
            # If the dashes complete a '<!--' inside the comment body,
            # that's the spec's comment-less-than-sign-bang-dash-dash
            # path: any continuation except '>' (or EOF) is a
            # nested-comment error (WHATWG §13.2.5.51); data content is
            # unaffected (the run/dash handling already appends the
            # same characters the spec's states would).
            pos += 1
            if (s[pos - 4:pos - 2] == "<!" and pos < n and s[pos] != ">"):
                self.error("nested-comment", at=pos)
            while pos < n and s[pos] == "-":
                data.append("-")
                pos += 1
            if pos >= n:
                self.error("eof-in-comment")
                self.pos = pos
                return (COMMENT, "".join(data))
            c = s[pos]
            if c == ">":
                self.pos = pos + 1
                return (COMMENT, "".join(data))
            if c == "!":
                pos += 1
                if pos < n and s[pos] == ">":
                    self.error("incorrectly-closed-comment", at=pos)
                    self.pos = pos + 1
                    return (COMMENT, "".join(data))
                if pos >= n:
                    self.error("eof-in-comment")
                    self.pos = pos
                    return (COMMENT, "".join(data))
                data.append("--!")
                continue
            data.append("--")
            # reconsume c in comment state

    def _cdata_section(self):
        s, n = self.s, self.n
        pos = self.pos
        end = s.find("]]>", pos)
        if end == -1:
            self.error("eof-in-cdata")
            chunk = s[pos:]
            self.pos = n
        else:
            chunk = s[pos:end]
            self.pos = end + 3
        # emit, separating NUL runs (tree converts them in foreign content)
        i = 0
        while i < len(chunk):
            j = chunk.find("\x00", i)
            if j == -1:
                yield (CHARS, chunk[i:])
                break
            if j > i:
                yield (CHARS, chunk[i:j])
            k = i = j
            while i < len(chunk) and chunk[i] == "\x00":
                i += 1
            yield (NULLS, i - k)

    # ------------------------------------------------------------------ #
    # DOCTYPE (states 53-68)
    # ------------------------------------------------------------------ #

    def _doctype(self):
        s, n = self.s, self.n
        pos = self.pos
        if pos >= n:
            self.error("eof-in-doctype")
            self.pos = n
            return (DOCTYPE, None, None, None, True)
        if s[pos] not in _WS:
            if s[pos] == ">":
                self.error("missing-doctype-name", at=pos)
                self.pos = pos + 1
                return (DOCTYPE, None, None, None, True)
            self.error("missing-whitespace-before-doctype-name", at=pos)
        else:
            m = _WS_RUN.match(s, pos)
            pos = m.end()
        if pos >= n:
            self.error("eof-in-doctype")
            self.pos = n
            return (DOCTYPE, None, None, None, True)
        if s[pos] == ">":
            self.error("missing-doctype-name", at=pos)
            self.pos = pos + 1
            return (DOCTYPE, None, None, None, True)
        # doctype name
        m = _DOCTYPE_NAME_RUN.match(s, pos)
        name = _lower(m.group())
        if "\x00" in name:
            self.error("unexpected-null-character")
            name = name.replace("\x00", "�")
        pos = m.end()
        public = system = None
        quirks = False
        while pos < n and s[pos] in _WS:
            pos += 1
        if pos >= n:
            self.error("eof-in-doctype")
            self.pos = n
            return (DOCTYPE, name, None, None, True)
        if s[pos] == ">":
            self.pos = pos + 1
            return (DOCTYPE, name, None, None, False)
        kw = s[pos:pos + 6].lower()
        if kw == "public":
            pos += 6
            public, system, quirks, pos = self._doctype_ids(pos, public_first=True)
        elif kw == "system":
            pos += 6
            _pub, system, quirks, pos = self._doctype_ids(pos, public_first=False)
        else:
            self.error("invalid-character-sequence-after-doctype-name",
                       at=pos)
            quirks = True
            end = s.find(">", pos)
            pos = n if end == -1 else end + 1
        self.pos = pos
        return (DOCTYPE, name, public, system, quirks)

    def _doctype_ids(self, pos: int, public_first: bool):
        """Parse PUBLIC/SYSTEM identifier section. Returns
        (public, system, force_quirks, new_pos); self.pos unused here.
        Error codes carry the spec's public/system distinction
        (WHATWG §13.2.5.58-66; reference ParseError.php:35-44)."""
        s, n = self.s, self.n
        public = system = None
        quirks = False
        k1 = "public" if public_first else "system"

        def skip_ws(p: int) -> int:
            while p < n and s[p] in _WS:
                p += 1
            return p

        def quoted(p: int, kind: str):
            """Returns (value|None, new_pos, ended_by_gt, eof)."""
            if p >= n:
                return None, p, False, True
            q = s[p]
            if q not in "\"'":
                return None, p, False, False
            endq = s.find(q, p + 1)
            gt = s.find(">", p + 1)
            if endq == -1:
                if gt == -1:
                    self.error("eof-in-doctype")
                    return s[p + 1:].replace("\x00", "�"), n, False, True
                self.error(f"abrupt-doctype-{kind}-identifier", at=gt)
                return s[p + 1:gt].replace("\x00", "�"), gt + 1, True, False
            if gt != -1 and gt < endq:
                self.error(f"abrupt-doctype-{kind}-identifier", at=gt)
                return s[p + 1:gt].replace("\x00", "�"), gt + 1, True, False
            return s[p + 1:endq].replace("\x00", "�"), endq + 1, False, False

        # after PUBLIC/SYSTEM keyword
        p = pos
        if p < n and s[p] not in _WS and s[p] not in "\"'>":
            self.error(f"missing-quote-before-doctype-{k1}-identifier", at=p)
            quirks = True
            gt = s.find(">", p)
            return public, system, True, (n if gt == -1 else gt + 1)
        had_ws = p < n and s[p] in _WS
        p = skip_ws(p)
        if p >= n:
            self.error("eof-in-doctype")
            return public, system, True, n
        if s[p] == ">":
            self.error(f"missing-doctype-{k1}-identifier", at=p)
            return public, system, True, p + 1
        if s[p] not in "\"'":
            self.error(f"missing-quote-before-doctype-{k1}-identifier", at=p)
            gt = s.find(">", p)
            return public, system, True, (n if gt == -1 else gt + 1)
        if not had_ws:
            self.error(f"missing-whitespace-after-doctype-{k1}-keyword", at=p)
        val, p, gt_ended, eof = quoted(p, k1)
        if public_first:
            public = val
        else:
            system = val
        if eof:
            return public, system, True, p
        if gt_ended:
            return public, system, True, p
        if not public_first:
            # SYSTEM only: expect '>' (after optional ws)
            p = skip_ws(p)
            if p >= n:
                self.error("eof-in-doctype")
                return public, system, True, n
            if s[p] == ">":
                return public, system, False, p + 1
            self.error(
                "unexpected-character-after-doctype-system-identifier", at=p)
            gt = s.find(">", p)
            return public, system, False, (n if gt == -1 else gt + 1)
        # after public id: optional system id
        p2 = skip_ws(p)
        if p2 >= n:
            self.error("eof-in-doctype")
            return public, system, True, n
        if s[p2] == ">":
            return public, system, False, p2 + 1
        if s[p2] in "\"'":
            if p2 == p:
                self.error(
                    "missing-whitespace-between-doctype-public-and-system-identifiers",
                    at=p2)
            val, p3, gt_ended, eof = quoted(p2, "system")
            system = val
            if eof or gt_ended:
                return public, system, True, p3
            p3 = skip_ws(p3)
            if p3 >= n:
                self.error("eof-in-doctype")
                return public, system, True, n
            if s[p3] == ">":
                return public, system, False, p3 + 1
            self.error(
                "unexpected-character-after-doctype-system-identifier", at=p3)
            gt = s.find(">", p3)
            return public, system, False, (n if gt == -1 else gt + 1)
        self.error("missing-quote-before-doctype-system-identifier", at=p2)
        gt = s.find(">", p2)
        return public, system, True, (n if gt == -1 else gt + 1)

    # ------------------------------------------------------------------ #
    # RCDATA / RAWTEXT (states 2-3, 9-17)
    # ------------------------------------------------------------------ #

    def _rcdata_rawtext(self, rcdata: bool):
        s, n = self.s, self.n
        run = _RCDATA_RUN if rcdata else _RAWTEXT_RUN
        target_state = RCDATA if rcdata else RAWTEXT
        buf: list[str] = []
        pos = self.pos
        while True:
            if self.state != target_state:  # tree builder flipped us
                break
            m = run.match(s, pos)
            if m is not None:
                buf.append(m.group())
                pos = m.end()
            if pos >= n:
                # flush and fall back to the outer loop, which emits
                # the single (EOF,) for every state
                self.pos = pos
                if buf:
                    yield (CHARS, "".join(buf))
                return
            c = s[pos]
            if c == "\x00":
                self.error("unexpected-null-character", at=pos)
                buf.append("�")
                pos += 1
                continue
            if c == "&" and rcdata:
                self.pos = pos + 1
                buf.append(self._charref_or_raw(False))
                pos = self.pos
                continue
            # '<'
            tag = self._try_appropriate_end_tag(pos)
            if tag is None:
                buf.append("<")
                pos += 1
                continue
            text, token, pos = tag
            if text:
                buf.append(text)
            if token is not None:
                self.pos = pos
                self.state = DATA
                if buf:
                    yield (CHARS, "".join(buf))
                buf = []
                yield token
                return
        self.pos = pos
        if buf:
            yield (CHARS, "".join(buf))

    def _try_appropriate_end_tag(self, pos: int):
        """At '<' inside RCDATA/RAWTEXT/script data. If this begins an
        appropriate end tag, parse it fully and return ("", token, newpos);
        if it is '<'-ish text, return None (caller emits '<'); if it is a
        near-miss end tag, return (raw_text, None, newpos)."""
        s, n = self.s, self.n
        if pos + 1 >= n or s[pos + 1] != "/":
            return None
        m = _ALPHA_RUN.match(s, pos + 2)
        if m is None:
            return None
        name = _lower(m.group())
        end = m.end()
        nxt = s[end] if end < n else ""
        if name == self.last_start_tag and nxt in "\t\n\f />":
            self.pos = end
            token = self._finish_appropriate_end_tag(name)
            if token is None:
                # EOF inside the tag: spec emits the raw text
                return (s[pos:self.pos], None, self.pos)
            return ("", token, self.pos)
        return (s[pos:end], None, end)

    def _finish_appropriate_end_tag(self, name: str):
        """Parse attributes/closing of an appropriate end tag (attrs are
        parsed then discarded with errors, like any end tag)."""
        s, n = self.s, self.n
        attrs: dict[str, str] = {}
        while True:
            pos = self.pos
            if pos >= n:
                self.error("eof-in-tag")
                return None
            c = s[pos]
            if c in _WS:
                m = _WS_RUN.match(s, pos)
                self.pos = m.end()
                continue
            if c == "/":
                if pos + 1 < n and s[pos + 1] == ">":
                    # points at the '>' (html5lib positions)
                    self.error("end-tag-with-trailing-solidus", at=pos + 1)
                    self.pos = pos + 2
                    return (END, name)
                self.error("unexpected-solidus-in-tag", at=pos + 1)
                self.pos = pos + 1
                continue
            if c == ">":
                self.pos = pos + 1
                if attrs:
                    self.error("end-tag-with-attributes", at=pos)
                return (END, name)
            if not self._attribute(attrs):
                return None

    # ------------------------------------------------------------------ #
    # script data incl. escaped / double-escaped (states 4, 18-31)
    # ------------------------------------------------------------------ #

    def _script_data(self):
        s, n = self.s, self.n
        buf: list[str] = []
        pos = self.pos
        # plain script data
        while True:
            if self.state != SCRIPT_DATA:
                break
            m = _RAWTEXT_RUN.match(s, pos)
            if m is not None:
                buf.append(m.group())
                pos = m.end()
            if pos >= n:
                # flush and fall back to the outer loop, which emits
                # the single (EOF,) for every state
                self.pos = pos
                if buf:
                    yield (CHARS, "".join(buf))
                return
            c = s[pos]
            if c == "\x00":
                self.error("unexpected-null-character", at=pos)
                buf.append("�")
                pos += 1
                continue
            # '<'
            if s.startswith("<!--", pos):
                buf.append("<!--")
                pos += 4
                pos, emitted_token = yield from self._script_escaped(pos, buf)
                if emitted_token:
                    return
                continue
            tag = self._try_appropriate_end_tag(pos)
            if tag is None:
                buf.append("<")
                pos += 1
                continue
            text, token, pos = tag
            if text:
                buf.append(text)
            if token is not None:
                self.pos = pos
                self.state = DATA
                if buf:
                    yield (CHARS, "".join(buf))
                yield token
                return
        self.pos = pos
        if buf:
            yield (CHARS, "".join(buf))

    def _script_escaped(self, pos: int, buf: list[str]):
        """Script data escaped (+double-escaped) sub-machine; entered just
        after '<!--' (already appended). Returns (newpos, emitted_token)."""
        s, n = self.s, self.n
        double = False
        # After '<!--' the spec is in script-data-escaped-dash-dash, so an
        # immediate '>' (i.e. '<!-->') exits back to plain script data.
        dashes = 2
        while True:
            if pos >= n:
                self.error("eof-in-script-html-comment-like-text")
                self.pos = pos
                if buf:
                    yield (CHARS, "".join(buf))
                return pos, True  # outer loop emits the single (EOF,)
            c = s[pos]
            if c == "-":
                buf.append("-")
                pos += 1
                dashes += 1
                continue
            if c == ">" and dashes >= 2:
                buf.append(">")
                pos += 1
                return pos, False  # back to plain script data
            if c == "\x00":
                self.error("unexpected-null-character", at=pos)
                buf.append("�")
                pos += 1
                dashes = 0
                continue
            if c != "<":
                m = _ESCAPED_RUN.match(s, pos)
                buf.append(m.group())
                pos = m.end()
                dashes = 0
                continue
            # '<'
            dashes = 0
            if not double:
                # check for </script (appropriate end tag) or <script (double escape)
                if pos + 1 < n and s[pos + 1] == "/":
                    m = _ALPHA_RUN.match(s, pos + 2)
                    if m is not None:
                        name = _lower(m.group())
                        end = m.end()
                        nxt = s[end] if end < n else ""
                        if name == self.last_start_tag and nxt in "\t\n\f />":
                            self.pos = end
                            token = self._finish_appropriate_end_tag(name)
                            if token is None:
                                buf.append(s[pos:self.pos])
                                pos = self.pos
                                continue
                            self.state = DATA
                            if buf:
                                yield (CHARS, "".join(buf))
                            yield token
                            return self.pos, True
                        buf.append(s[pos:end])
                        pos = end
                        continue
                    buf.append("<")
                    pos += 1
                    continue
                m = _ALPHA_RUN.match(s, pos + 1)
                if m is not None:
                    name = _lower(m.group())
                    end = m.end()
                    nxt = s[end] if end < n else ""
                    buf.append(s[pos:end])
                    pos = end
                    if name == "script" and nxt in "\t\n\f />":
                        double = True
                    continue
                buf.append("<")
                pos += 1
                continue
            else:
                # double-escaped: only '</script' exits double-escape
                if pos + 1 < n and s[pos + 1] == "/":
                    m = _ALPHA_RUN.match(s, pos + 2)
                    if m is not None and _lower(m.group()) == "script":
                        end = m.end()
                        nxt = s[end] if end < n else ""
                        if nxt in "\t\n\f />":
                            buf.append(s[pos:end])
                            pos = end
                            double = False
                            continue
                buf.append("<")
                pos += 1
                continue
