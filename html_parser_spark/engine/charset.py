"""WHATWG encoding sniffing + decoding (the engine's input layer).

Reimplements, from the public WHATWG Encoding/HTML standards, the behavior
surface of the reference's charset layer:

- BOM sniff                      (parity: /root/reference/lib/Parser/Charset.php:15-25)
- label -> canonical encoding    (parity: Charset.php:31-37)
- charset from Content-Type      (parity: Charset.php:44-53)
- charset from <meta content>    (parity: Charset.php:56-125)
- byte prescan of the first 1024 (parity: Charset.php:132-293,380-531)
- the sniffing ladder + decode   (parity: lib/Parser/Data.php:59-117)

All functions are pure and operate on ``bytes``/``str`` — they run inside
Arrow-batched pandas UDFs on Spark, one call per document.
"""

from __future__ import annotations

import codecs
import re
import threading

# ---------------------------------------------------------------------------
# WHATWG encoding labels -> canonical encoding name
# (public table from https://encoding.spec.whatwg.org/#names-and-labels)
# ---------------------------------------------------------------------------

_UTF8_LABELS = ("unicode-1-1-utf-8", "unicode11utf8", "unicode20utf8", "utf-8", "utf8", "x-unicode20utf8")
_W1252_LABELS = ("ansi_x3.4-1968", "ascii", "cp1252", "cp819", "csisolatin1", "ibm819", "iso-8859-1",
                 "iso-ir-100", "iso8859-1", "iso88591", "iso_8859-1", "iso_8859-1:1987", "l1",
                 "latin1", "us-ascii", "windows-1252", "x-cp1252")

LABELS: dict[str, str] = {}


def _add(canonical: str, *labels: str) -> None:
    for lab in labels:
        LABELS[lab] = canonical


_add("utf-8", *_UTF8_LABELS)
_add("windows-1252", *_W1252_LABELS)
_add("ibm866", "866", "cp866", "csibm866", "ibm866")
_add("iso-8859-2", "csisolatin2", "iso-8859-2", "iso-ir-101", "iso8859-2", "iso88592",
     "iso_8859-2", "iso_8859-2:1987", "l2", "latin2")
_add("iso-8859-3", "csisolatin3", "iso-8859-3", "iso-ir-109", "iso8859-3", "iso88593",
     "iso_8859-3", "iso_8859-3:1988", "l3", "latin3")
_add("iso-8859-4", "csisolatin4", "iso-8859-4", "iso-ir-110", "iso8859-4", "iso88594",
     "iso_8859-4", "iso_8859-4:1988", "l4", "latin4")
_add("iso-8859-5", "csisolatincyrillic", "cyrillic", "iso-8859-5", "iso-ir-144", "iso8859-5",
     "iso88595", "iso_8859-5", "iso_8859-5:1988")
_add("iso-8859-6", "arabic", "asmo-708", "csiso88596e", "csiso88596i", "csisolatinarabic",
     "ecma-114", "iso-8859-6", "iso-8859-6-e", "iso-8859-6-i", "iso-ir-127", "iso8859-6",
     "iso88596", "iso_8859-6", "iso_8859-6:1987")
_add("iso-8859-7", "csisolatingreek", "ecma-118", "elot_928", "greek", "greek8", "iso-8859-7",
     "iso-ir-126", "iso8859-7", "iso88597", "iso_8859-7", "iso_8859-7:1987", "sun_eu_greek")
_add("iso-8859-8", "csiso88598e", "csisolatinhebrew", "hebrew", "iso-8859-8", "iso-8859-8-e",
     "iso-ir-138", "iso8859-8", "iso88598", "iso_8859-8", "iso_8859-8:1988", "visual")
_add("iso-8859-8-i", "csiso88598i", "iso-8859-8-i", "logical")
_add("iso-8859-10", "csisolatin6", "iso-8859-10", "iso-ir-157", "iso8859-10", "iso885910",
     "l6", "latin6")
_add("iso-8859-13", "iso-8859-13", "iso8859-13", "iso885913")
_add("iso-8859-14", "iso-8859-14", "iso8859-14", "iso885914")
_add("iso-8859-15", "csisolatin9", "iso-8859-15", "iso8859-15", "iso885915", "iso_8859-15", "l9")
_add("iso-8859-16", "iso-8859-16")
_add("koi8-r", "cskoi8r", "koi", "koi8", "koi8-r", "koi8_r")
_add("koi8-u", "koi8-ru", "koi8-u")
_add("macintosh", "csmacintosh", "mac", "macintosh", "x-mac-roman")
_add("windows-874", "dos-874", "iso-8859-11", "iso8859-11", "iso885911", "tis-620", "windows-874")
_add("windows-1250", "cp1250", "windows-1250", "x-cp1250")
_add("windows-1251", "cp1251", "windows-1251", "x-cp1251")
_add("windows-1253", "cp1253", "windows-1253", "x-cp1253")
_add("windows-1254", "cp1254", "csisolatin5", "iso-8859-9", "iso-ir-148", "iso8859-9",
     "iso88599", "iso_8859-9", "iso_8859-9:1989", "l5", "latin5", "windows-1254", "x-cp1254")
_add("windows-1255", "cp1255", "windows-1255", "x-cp1255")
_add("windows-1256", "cp1256", "windows-1256", "x-cp1256")
_add("windows-1257", "cp1257", "windows-1257", "x-cp1257")
_add("windows-1258", "cp1258", "windows-1258", "x-cp1258")
_add("x-mac-cyrillic", "x-mac-cyrillic", "x-mac-ukrainian")
_add("gbk", "chinese", "csgb2312", "csiso58gb231280", "gb2312", "gb_2312", "gb_2312-80",
     "gbk", "iso-ir-58", "x-gbk")
_add("gb18030", "gb18030")
_add("big5", "big5", "big5-hkscs", "cn-big5", "csbig5", "x-x-big5")
_add("euc-jp", "cseucpkdfmtjapanese", "euc-jp", "x-euc-jp")
_add("iso-2022-jp", "csiso2022jp", "iso-2022-jp")
_add("shift_jis", "csshiftjis", "ms932", "ms_kanji", "shift-jis", "shift_jis", "sjis",
     "windows-31j", "x-sjis")
_add("euc-kr", "cseuckr", "csksc56011987", "euc-kr", "iso-ir-149", "korean", "ks_c_5601-1987",
     "ks_c_5601-1989", "ksc5601", "ksc_5601", "windows-949")
_add("replacement", "csiso2022kr", "hz-gb-2312", "iso-2022-cn", "iso-2022-cn-ext",
     "iso-2022-kr", "replacement")
_add("utf-16be", "unicodefffe", "utf-16be")
_add("utf-16le", "csunicode", "iso-10646-ucs-2", "ucs-2", "unicode", "unicodefeff",
     "utf-16", "utf-16le")
_add("x-user-defined", "x-user-defined")

# canonical WHATWG encoding -> Python codec name
_PY_CODEC = {
    "utf-8": "utf-8",
    "ibm866": "cp866",
    "iso-8859-2": "iso8859-2", "iso-8859-3": "iso8859-3", "iso-8859-4": "iso8859-4",
    "iso-8859-5": "iso8859-5", "iso-8859-6": "iso8859-6", "iso-8859-7": "iso8859-7",
    "iso-8859-8": "iso8859-8", "iso-8859-8-i": "iso8859-8", "iso-8859-10": "iso8859-10",
    "iso-8859-13": "iso8859-13", "iso-8859-14": "iso8859-14", "iso-8859-15": "iso8859-15",
    "iso-8859-16": "iso8859-16",
    "koi8-r": "koi8-r", "koi8-u": "koi8-u",
    "macintosh": "mac-roman",
    "windows-874": "cp874",
    "windows-1250": "cp1250", "windows-1251": "cp1251", "windows-1252": "cp1252",
    "windows-1253": "cp1253", "windows-1254": "cp1254", "windows-1255": "cp1255",
    "windows-1256": "cp1256", "windows-1257": "cp1257", "windows-1258": "cp1258",
    "x-mac-cyrillic": "mac-cyrillic",
    "gbk": "gbk", "gb18030": "gb18030", "big5": "big5hkscs",
    "euc-jp": "euc_jp", "iso-2022-jp": "iso2022_jp", "shift_jis": "cp932",
    "euc-kr": "cp949",
    "utf-16be": "utf-16-be", "utf-16le": "utf-16-le",
}

_ASCII_WS = "\t\n\f\r "


def label_to_encoding(label: str | None) -> str | None:
    """Canonicalize an encoding label per the WHATWG registry.

    Parity: /root/reference/lib/Parser/Charset.php:31-37.
    """
    if not label:
        return None
    return LABELS.get(label.strip(_ASCII_WS).lower())


def from_bom(data: bytes) -> str | None:
    """BOM sniff. Parity: /root/reference/lib/Parser/Charset.php:15-25."""
    if data.startswith(b"\xef\xbb\xbf"):
        return "utf-8"
    if data.startswith(b"\xfe\xff"):
        return "utf-16be"
    if data.startswith(b"\xff\xfe"):
        return "utf-16le"
    return None


def from_transport(content_type: str | None) -> str | None:
    """Extract charset from an HTTP Content-Type value.

    Parity: /root/reference/lib/Parser/Charset.php:44-53.
    """
    if not content_type:
        return None
    parts = content_type.split(";")
    for part in parts[1:]:
        if "=" not in part:
            continue
        key, _, value = part.partition("=")
        if key.strip(_ASCII_WS).lower() != "charset":
            continue
        value = value.strip(_ASCII_WS)
        if len(value) >= 2 and value[0] == value[-1] and value[0] in "\"'":
            value = value[1:-1]
        return label_to_encoding(value)
    return None


def from_meta_content(content: str) -> str | None:
    """The WHATWG 'extract a character encoding from a meta element' algorithm.

    Parity: /root/reference/lib/Parser/Charset.php:56-125.
    """
    pos = 0
    low = content.lower()
    n = len(content)
    while True:
        idx = low.find("charset", pos)
        if idx == -1:
            return None
        pos = idx + 7
        while pos < n and content[pos] in _ASCII_WS:
            pos += 1
        if pos < n and content[pos] == "=":
            pos += 1
            break
        # keep scanning from after this "charset" occurrence
    while pos < n and content[pos] in _ASCII_WS:
        pos += 1
    if pos >= n:
        return None
    quote = content[pos]
    if quote in "\"'":
        end = content.find(quote, pos + 1)
        if end == -1:
            return None
        return label_to_encoding(content[pos + 1:end])
    end = pos
    while end < n and content[end] not in _ASCII_WS and content[end] != ";":
        end += 1
    return label_to_encoding(content[pos:end])


# ---------------------------------------------------------------------------
# Byte prescan ("prescan a byte stream to determine its encoding")
# ---------------------------------------------------------------------------

# the window the prescan and the XML-declaration scan read (parity:
# the reference's default, /root/reference/lib/Parser/Config.php:15)
PRESCAN_BYTES = 1024

_B_WS_SLASH = b"\t\n\x0c\r /"
_B_TAGEND_RE = re.compile(rb"[\t\n\x0c\r >]")


def _prescan_get_attribute(data: bytes, pos: int) -> tuple[str | None, str, int]:
    """The prescan 'get an attribute' sub-algorithm.

    Returns (name or None, value, new_pos).
    Parity: /root/reference/lib/Parser/Charset.php:380-531.
    """
    n = len(data)
    while pos < n and data[pos:pos + 1] in (b"\t", b"\n", b"\x0c", b"\r", b" ", b"/"):
        pos += 1
    if pos >= n or data[pos:pos + 1] == b">":
        return None, "", pos
    name = bytearray()
    value = bytearray()
    # attribute name
    while pos < n:
        c = data[pos]
        if c == 0x3D and name:  # '='
            pos += 1
            break
        if data[pos:pos + 1] in (b"\t", b"\n", b"\x0c", b"\r", b" "):
            # spaces then maybe '='
            while pos < n and data[pos:pos + 1] in (b"\t", b"\n", b"\x0c", b"\r", b" "):
                pos += 1
            if pos >= n or data[pos] != 0x3D:
                return name.decode("ascii", "replace").lower(), "", pos
            pos += 1
            break
        if c in (0x2F, 0x3E):  # '/' '>'
            return name.decode("ascii", "replace").lower(), "", pos
        name.append(c + 0x20 if 0x41 <= c <= 0x5A else c)
        pos += 1
    else:
        return (name.decode("ascii", "replace").lower() if name else None), "", pos
    # skip whitespace before value
    while pos < n and data[pos:pos + 1] in (b"\t", b"\n", b"\x0c", b"\r", b" "):
        pos += 1
    if pos >= n:
        return name.decode("ascii", "replace").lower(), "", pos
    c = data[pos]
    if c in (0x22, 0x27):  # quoted value
        quote = c
        pos += 1
        while pos < n and data[pos] != quote:
            cc = data[pos]
            value.append(cc + 0x20 if 0x41 <= cc <= 0x5A else cc)
            pos += 1
        if pos < n:
            pos += 1
        return name.decode("ascii", "replace").lower(), value.decode("ascii", "replace"), pos
    if c == 0x3E:
        return name.decode("ascii", "replace").lower(), "", pos
    while pos < n and data[pos:pos + 1] not in (b"\t", b"\n", b"\x0c", b"\r", b" ", b">"):
        cc = data[pos]
        value.append(cc + 0x20 if 0x41 <= cc <= 0x5A else cc)
        pos += 1
    return name.decode("ascii", "replace").lower(), value.decode("ascii", "replace"), pos


def from_xml_declaration(data: bytes) -> str | None:
    """"Get an XML encoding" fallback, run when the meta prescan fails:
    ``<?xml … encoding="label"?>`` at the very start of the stream
    (XHTML served as text/html).

    Parity: /root/reference/lib/Parser/Charset.php:295-377, including
    the spec's quirk (whatwg/html#6939, replicated by the reference) of
    locating the ``encoding`` substring from the start of the window
    rather than inside the declaration.
    """
    s = data[:PRESCAN_BYTES]
    n = len(s)
    if not s.startswith(b"<?xml"):
        return None
    decl_end = s.find(b">")
    if decl_end <= 0:
        return None
    pos = s.find(b"encoding")
    if pos == -1 or pos > decl_end:
        return None
    pos += len(b"encoding")
    while pos < n and s[pos] <= 0x20:
        pos += 1
    if pos >= n or s[pos:pos + 1] != b"=":
        return None
    pos += 1
    while pos < n and s[pos] <= 0x20:
        pos += 1
    quote = s[pos:pos + 1]
    if quote not in (b'"', b"'"):
        return None
    pos += 1
    end = s.find(quote, pos)
    if end == -1:
        return None
    label = s[pos:end]
    if any(b <= 0x20 for b in label):
        return None
    enc = label_to_encoding(label.decode("ascii", "replace"))
    if enc in ("utf-16be", "utf-16le"):
        enc = "utf-8"
    return enc


def from_prescan(data: bytes) -> str | None:
    """Prescan the first ``PRESCAN_BYTES`` for a <meta> declared
    encoding; on failure fall back to the XML-declaration scan.

    Parity: /root/reference/lib/Parser/Charset.php:132-293; every exit
    without a meta hit funnels to fromXMLDeclaration (Charset.php:292).
    """
    enc = _prescan_meta(data)
    if enc is not None:
        return enc
    return from_xml_declaration(data)


def _prescan_meta(data: bytes) -> str | None:
    data = data[:PRESCAN_BYTES]
    n = len(data)
    pos = 0
    while pos < n:
        if data.startswith(b"<!--", pos):
            end = data.find(b"-->", pos + 2)
            if end == -1:
                return None
            pos = end + 3
            continue
        if data[pos:pos + 1] == b"<":
            rest = data[pos + 1:pos + 6].lower()
            if rest.startswith(b"meta") and pos + 5 < n and data[pos + 5:pos + 6] in _B_WS_SLASH:
                pos += 6
                attr_names: set[str] = set()
                got_pragma = False
                need_pragma: bool | None = None
                charset_enc: str | None = None
                while True:
                    name, value, pos = _prescan_get_attribute(data, pos)
                    if name is None:
                        break
                    if name in attr_names:
                        continue
                    attr_names.add(name)
                    if name == "http-equiv":
                        if value == "content-type":
                            got_pragma = True
                    elif name == "content":
                        if charset_enc is None:
                            enc = from_meta_content(value)
                            if enc is not None:
                                charset_enc = enc
                                need_pragma = True
                    elif name == "charset":
                        charset_enc = label_to_encoding(value)
                        need_pragma = False
                if need_pragma is None and charset_enc is None:
                    continue
                if need_pragma and not got_pragma:
                    continue
                if charset_enc is None:
                    continue
                if charset_enc in ("utf-16be", "utf-16le"):
                    charset_enc = "utf-8"
                if charset_enc == "x-user-defined":
                    charset_enc = "windows-1252"
                return charset_enc
            # a start/end tag: skip tag name then attributes
            first = data[pos + 1:pos + 2]
            if first == b"/":
                first = data[pos + 2:pos + 3]
                tag_start = pos + 2
            else:
                tag_start = pos + 1
            if first.isalpha():
                # C-level scan to the end of the tag name (was a
                # per-byte slice loop — the dominant prescan cost on
                # tag-dense no-meta documents)
                m = _B_TAGEND_RE.search(data, tag_start)
                pos = m.start() if m is not None else n
                if data[pos:pos + 1] == b">":  # attributeless fast path
                    pos += 1
                    continue
                while True:
                    name, _value, pos = _prescan_get_attribute(data, pos)
                    if name is None:
                        break
                if pos < n and data[pos:pos + 1] == b">":
                    pos += 1
                continue
            if data[pos + 1:pos + 2] in (b"!", b"/", b"?"):
                end = data.find(b">", pos + 2)
                if end == -1:
                    return None
                pos = end + 1
                continue
        # any other byte: skip straight to the next '<' (C-level find
        # instead of a per-byte Python step — the prescan runs over up
        # to 1024 bytes for EVERY no-meta document, so this loop was a
        # measurable slice of the per-doc sniff cost)
        nxt = data.find(b"<", pos + 1)
        if nxt == -1:
            break
        pos = nxt
    return None


# ---------------------------------------------------------------------------
# Sniffing ladder + decode
# ---------------------------------------------------------------------------

CERTAIN = True
TENTATIVE = False


def sniff(data: bytes, transport_charset: str | None = None) -> tuple[str, bool]:
    """BOM > transport > prescan > windows-1252; returns (encoding, certain).

    Parity: the reference's ladder in /root/reference/lib/Parser/Data.php:59-95
    with its default `encodingFallback` (/root/reference/lib/Parser/Config.php:13).
    """
    enc = from_bom(data)
    if enc:
        return enc, CERTAIN
    enc = None
    if transport_charset:
        # accepts a bare label or a full Content-Type string (the
        # reference's encodingOrContentType parameter, Parser.php:55)
        enc = label_to_encoding(transport_charset)
        if enc is None and "/" in transport_charset:
            enc = from_transport(transport_charset)
    if enc:
        return enc, CERTAIN
    enc = from_prescan(data)
    if enc:
        return enc, TENTATIVE
    return "windows-1252", TENTATIVE


def decode(data: bytes, encoding: str) -> str:
    """Decode bytes per WHATWG semantics: strip matching BOM, map invalid
    sequences to U+FFFD, then normalize CRLF/CR -> LF.

    Parity: /root/reference/lib/Parser/Data.php:98-117 (done here as bulk
    string ops rather than char-at-a-time — semantically identical).
    """
    return decode_count(data, encoding)[0]


def _counting_replace(ex):
    """codecs error handler: behaves exactly like 'replace' for decoding
    (one U+FFFD, resume at ex.end) but bumps a thread-local counter, so
    decode_count gets the true number of malformed-sequence events —
    immune to literal U+FFFD bytes in the input and to multi-byte
    codecs whose replacement pattern could straddle character
    boundaries (the old byte-substring heuristic miscounted both)."""
    _DECODE_ERR_TL.n = getattr(_DECODE_ERR_TL, "n", 0) + 1
    return ("�", ex.end)


_DECODE_ERR_TL = threading.local()
codecs.register_error("hps-counting-replace", _counting_replace)


def decode_count(data: bytes, encoding: str) -> tuple[str, int]:
    """``decode`` plus the number of malformed byte sequences replaced
    — one ``encoding-error`` each (reference Data.php error emission).
    Strict decode is the fast path (zero-count, no second pass); on
    failure the count comes from a counting twin of the 'replace'
    handler (exact per error event, character-boundary-safe)."""
    if encoding == "replacement":
        # the single U+FFFD *is* the error
        return ("\ufffd", 1) if data else ("", 0)
    n_bad = 0
    if encoding == "x-user-defined":
        # maps every byte somewhere (never malformed)
        text = data.decode("ascii") if data.isascii() else "".join(
            chr(b) if b < 0x80 else chr(0xF780 + b - 0x80) for b in data)
    else:
        codec = _PY_CODEC.get(encoding, "cp1252")
        if encoding == "utf-8" and data.startswith(b"\xef\xbb\xbf"):
            data = data[3:]
        elif encoding == "utf-16be" and data.startswith(b"\xfe\xff"):
            data = data[2:]
        elif encoding == "utf-16le" and data.startswith(b"\xff\xfe"):
            data = data[2:]
        try:
            text = data.decode(codec, "strict")
        except UnicodeDecodeError:
            # the counting handler replaces byte-for-byte like 'replace',
            # so its output IS the decoded text — one decode, not two
            _DECODE_ERR_TL.n = 0
            text = data.decode(codec, "hps-counting-replace")
            n_bad = _DECODE_ERR_TL.n
    if "\r" in text:
        text = text.replace("\r\n", "\n").replace("\r", "\n")
    return text, n_bad
