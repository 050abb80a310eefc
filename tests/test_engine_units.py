"""Unit tests per engine module (model: the reference's PHPUnit suites,
/root/reference/tests/phpunit.dist.xml — Charset, Parser, Serializer,
Encoding-change)."""

import os

import pytest
from hypothesis import given, settings, strategies as st

from html_parser_spark.engine import charset, parse, parse_fragment, serialize, serialize_inner
from html_parser_spark.engine.dom import QUIRKS, NO_QUIRKS
from html_parser_spark.engine.extractor import extract_text, text_content


class TestCharset:
    @pytest.mark.parametrize("label,expected", [
        ("UTF-8", "utf-8"), (" utf8\t", "utf-8"), ("latin1", "windows-1252"),
        ("ISO-8859-1", "windows-1252"), ("shift-jis", "shift_jis"),
        ("sjis", "shift_jis"), ("ms932", "shift_jis"), ("unicode", "utf-16le"),
        ("csbig5", "big5"), ("nonsense", None), ("", None),
        ("iso-8859-9", "windows-1254"), ("tis-620", "windows-874"),
    ])
    def test_labels(self, label, expected):
        assert charset.label_to_encoding(label) == expected

    @pytest.mark.parametrize("data,expected", [
        (b"\xef\xbb\xbfx", "utf-8"), (b"\xfe\xffx", "utf-16be"),
        (b"\xff\xfex", "utf-16le"), (b"plain", None),
    ])
    def test_bom(self, data, expected):
        assert charset.from_bom(data) == expected

    @pytest.mark.parametrize("ct,expected", [
        ("text/html; charset=utf-8", "utf-8"),
        ("text/html; charset=\"euc-kr\"", "euc-kr"),
        ("text/html", None), (None, None),
        ("text/html; CHARSET=UTF-8; foo=bar", "utf-8"),
    ])
    def test_transport(self, ct, expected):
        assert charset.from_transport(ct) == expected

    def test_bom_beats_transport_and_meta(self):
        data = "﻿<meta charset=koi8-r>тест".encode("utf-16le")
        enc, certain = charset.sniff(data, transport_charset="euc-kr")
        assert enc == "utf-16le" and certain
        assert "тест" in charset.decode(data, enc)
        # without a BOM the transport charset beats the meta, as a bare
        # label or as a Content-Type string
        data = "<meta charset=koi8-r>Olé".encode("cp1252")
        for transport in ("windows-1252", "text/html;charset=windows-1252"):
            assert charset.sniff(data, transport) == ("windows-1252", True)

    def test_decode_replaces_invalid(self):
        assert charset.decode(b"a\xffb", "utf-8") == "a�b"

    def test_decode_normalizes_newlines(self):
        assert charset.decode(b"a\r\nb\rc\nd", "utf-8") == "a\nb\nc\nd"

    def test_x_user_defined(self):
        assert charset.decode(b"a\x80", "x-user-defined") == "a"

    def test_meta_restart_changes_encoding(self):
        # meta beyond the prescan window, non-ASCII byte that differs
        # between windows-1252 and iso-8859-5 -> forces the bounded restart
        filler = b"<!-- " + b"x" * 1100 + b" -->"
        data = filler + "<meta charset=iso-8859-5><p>\xd0".encode("latin-1")
        out = parse(data)
        assert out.encoding == "iso-8859-5"
        text, _ = extract_text(out.document)
        assert text == "а"  # 0xD0 in iso-8859-5 is CYRILLIC SMALL A

    def test_meta_relabel_ascii_no_restart(self):
        filler = b"<!-- " + b"x" * 1100 + b" -->"
        out = parse(filler + b"<meta charset=utf-8><p>ok")
        assert out.encoding == "utf-8"


class TestParserAPI:
    def test_output_fields(self):
        out = parse(b"<!DOCTYPE html><p>x")
        assert out.quirks_mode == NO_QUIRKS
        assert out.encoding == "windows-1252"
        assert isinstance(out.errors, list)

    def test_quirks_without_doctype(self):
        assert parse(b"<p>x").quirks_mode == QUIRKS

    def test_str_input(self):
        out = parse("<p>héllo")
        assert text_content(out.document) == "héllo"

    def test_fragment(self):
        frag = parse_fragment("<li>a<li>b", "ul")
        assert [c.name for c in frag.children] == ["li", "li"]

    def test_fragment_rcdata_context(self):
        frag = parse_fragment("a<b>c", "title")
        assert len(frag.children) == 1
        assert frag.children[0].data == "a<b>c"

    @pytest.mark.parametrize("n", [98, 500, 2000])
    @pytest.mark.parametrize("unit", [("template",), ("template", "tr")])
    def test_eof_closes_any_number_of_open_templates(self, unit, n):
        """EOF in "in template" closes one template per step with a
        parse error each; past ~100 open templates the reprocess loop
        used to raise instead. The tree is the spec's: the nesting
        intact under head, the text in the innermost template's
        content (after its empty ``tr``), an empty body."""
        from html_parser_spark.engine.dom import Element, Text

        src = "".join(f"<{name}>" for name in unit) * n + "x"
        out = parse(src.encode())
        head, body = out.document.children[-1].children
        assert (head.name, body.name, body.children) == ("head", "body", [])
        # walk down iteratively: the nesting is too deep to recurse
        chain, node = [], head
        while True:
            holder = node.content if node.content is not None else node
            kids = holder.children
            chain.append((node.name,
                          [k.data for k in kids if isinstance(k, Text)]))
            els = [k for k in kids if isinstance(k, Element)]
            if not els:
                break
            assert len(els) == 1
            node = els[0]
        want = [("head", [])] + [(name, []) for name in unit] * n
        want[-len(unit)] = ("template", ["x"])
        assert chain == want
        assert out.errors.count("eof-in-template") == n


class TestSerializer:
    @pytest.mark.parametrize("html,expected", [
        ("<p class='a'>x</p>", '<p class="a">x</p>'),
        ("<br><hr>", "<br><hr>"),
        ("<div>&lt;&amp;&gt;</div>", "<div>&lt;&amp;&gt;</div>"),
        ("<script>a < b && c</script>", "<script>a < b && c</script>"),
        ("<span title='\"q\"'>t</span>", '<span title="&quot;q&quot;">t</span>'),
        ("<template><b>t</b></template>", "<template><b>t</b></template>"),
        ("<svg><a xlink:href='u'>t</a></svg>",
         '<svg><a xlink:href="u">t</a></svg>'),
    ])
    def test_body_roundtrip(self, html, expected):
        out = parse(f"<!DOCTYPE html><body>{html}")
        body = out.document.children[-1].children[-1]
        assert serialize_inner(body) == expected

    @pytest.mark.parametrize("html,expected", [
        ("<!DOCTYPE html><p class='x'>a<b>b</b></p><table><td>1</table>",
         '<!DOCTYPE html><html><head></head><body><p class="x">a<b>b</b></p>'
         "<table><tbody><tr><td>1</td></tr></tbody></table></body></html>"),
        ("<svg><circle/></svg><math><mi>m</mi></math>",
         "<html><head></head><body><svg><circle></circle></svg>"
         "<math><mi>m</mi></math></body></html>"),
        ("<template><p>t</p></template><script>a<b</script>",
         "<html><head><template><p>t</p></template><script>a<b</script>"
         "</head><body></body></html>"),
        ("<pre>\n keep\n</pre><input disabled>",
         "<html><head></head><body><pre> keep\n</pre>"
         '<input disabled=""></body></html>'),
    ], ids=["table", "foreign", "template", "pre"])
    def test_document(self, html, expected):
        assert serialize(parse(html).document) == expected

    def test_nbsp_escaped(self):
        out = parse("<!DOCTYPE html><body><p>a b")
        body = out.document.children[-1].children[-1]
        assert serialize_inner(body) == "<p>a&nbsp;b</p>"

    def test_reparse_fixpoint(self):
        src = b"<!DOCTYPE html><p>One<table><td>x</table><b>i<i>j</b>k</i>"
        once = serialize(parse(src).document)
        twice = serialize(parse(once).document)
        assert once == twice

    def test_nesting_deeper_than_the_recursion_limit(self):
        out = serialize(parse(b"<div>" * 2000).document)
        assert out == ("<html><head></head><body>" + "<div>" * 2000
                       + "</div>" * 2000 + "</body></html>")
        out = serialize(parse(b"<template><tr>" * 500 + b"x").document)
        assert out.count("<template>") == out.count("</template>") == 500
        assert out.count("<tr>") == out.count("</tr>") > 0
        assert serialize(parse(out).document) == out


class TestExtractor:
    def test_spans(self):
        out = parse(b"<!DOCTYPE html><body><div><p>ab</p><p>cd</p></div>")
        text, spans = extract_text(out.document)
        assert text == "abcd"
        by_path = {s[0]: s for s in spans}
        assert by_path["body/div[0]/p[0]"][2:] == (0, 2)
        assert by_path["body/div[0]/p[1]"][2:] == (2, 4)
        assert by_path["body/div[0]"][2:] == (0, 4)

    def test_template_content_excluded(self):
        out = parse(b"<!DOCTYPE html><body>a<template>hidden</template>b")
        text, _ = extract_text(out.document)
        assert text == "ab"

    def test_frameset_document_has_no_text(self):
        out = parse(b"<frameset><frame></frameset>")
        text, spans = extract_text(out.document)
        assert text == "" and spans == []

    def test_rcdata_text_included_script_included(self):
        # textContent includes script/style text nodes under body
        out = parse(b"<!DOCTYPE html><body><p>a</p><script>s()</script>")
        text, _ = extract_text(out.document)
        assert text == "as()"


@settings(max_examples=300, deadline=None)
@given(st.text(
    alphabet=st.sampled_from(list("<>&;/=\"' abAB\t\n-!?[]0#xé" + "\x00")),
    max_size=60))
def test_parse_never_crashes_and_serialize_is_fixpoint(s):
    out = parse(s)
    html = serialize(out.document)
    out2 = parse(html)
    assert serialize(out2.document) == serialize(out2.document)
    # extraction is total
    extract_text(out.document)


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=80))
def test_parse_accepts_arbitrary_bytes(b):
    out = parse(b)
    assert out.encoding
    extract_text(out.document)


def test_parse_track_positions_debug_mode():
    """Debug mode reports tokenizer (code, line, col) tuples; the
    production path carries None (no bookkeeping)."""
    from html_parser_spark.engine.parser import parse
    html = b"<!DOCTYPE html><p>a\nb</p foo=1>"
    out = parse(html)
    assert out.error_positions is None
    dbg = parse(html, track_positions=True)
    # second line is 'b</p foo=1>' — the '>' is its 11th character
    assert ("end-tag-with-attributes", 2, 11) in dbg.error_positions
    assert dbg.errors == out.errors  # same codes either way


def test_from_xml_declaration_ladder():
    """fromXMLDeclaration parity (Charset.php:295-377): runs only when
    the meta prescan fails, label at stream start, utf-16 remap, and
    the spec's find-from-start quirk."""
    from html_parser_spark.engine import charset as cs
    assert cs.from_xml_declaration(
        b'<?xml version="1.0" encoding="ISO-8859-15"?><html>') \
        == "iso-8859-15"
    assert cs.from_xml_declaration(
        b"<?xml version='1.0' encoding='utf-16be'?>") == "utf-8"
    assert cs.from_xml_declaration(b'<?xml version="1.0"?>') is None
    assert cs.from_xml_declaration(b'<html><?xml encoding="utf-8"?>') is None
    assert cs.from_xml_declaration(
        b'<?xml version="1.0" encoding="no-such"?>') is None
    # meta prescan wins over the XML declaration
    assert cs.from_prescan(
        b'<?xml version="1.0" encoding="ISO-8859-15"?>'
        b'<meta charset="utf-8">') == "utf-8"
    # and the whole sniff ladder reports it tentatively
    enc, certain = cs.sniff(
        b'<?xml version="1.0" encoding="ISO-8859-15"?><html></html>')
    assert (enc, certain) == ("iso-8859-15", False)


class TestErrorRegistry:
    """Per-code error registry checks (reference ParseError.php:11-165
    parity via html_parser_spark.engine.errors)."""

    # hand-derived expectations: (input bytes, expected error multiset)
    BATCH = [
        (b"<p>x", {"expected-doctype-but-got-start-tag": 1}),
        (b"x", {"expected-doctype-but-got-chars": 1}),
        (b"", {"expected-doctype-but-got-eof": 1}),
        (b"</p>", {"expected-doctype-but-got-end-tag": 1,
                   "unexpected-end-tag": 1}),
        (b"<!DOCTYPE html><p>a</p foo=1>", {"end-tag-with-attributes": 1}),
        (b"<!DOCTYPE html><p/>x",
         {"non-void-html-element-start-tag-with-trailing-solidus": 1}),
        (b"<!DOCTYPE html><br/><img/><input/>", {}),  # voids acknowledge
        (b"<!DOCTYPE html><svg><circle/></svg>", {}),  # foreign acks
        (b"<!DOCTYPE html><!--a<!--b-->", {"nested-comment": 1}),
        (b"<!DOCTYPE html>\x0b",
         {"control-character-in-input-stream": 1}),
        (b"\xef\xbb\xbf<!DOCTYPE html><p>a\xffb", {"encoding-error": 1}),
        (b"<!DOCTYPE html PUBLIC x>",
         {"missing-quote-before-doctype-public-identifier": 1}),
        (b"<!DOCTYPE html SYSTEM x>",
         {"missing-quote-before-doctype-system-identifier": 1}),
        (b"<!DOCTYPE html PUBLIC 'a'",
         {"eof-in-doctype": 1, "unexpected-doctype": 1}),
        (b"<!DOCTYPE html PUBLIC'a'>",
         {"missing-whitespace-after-doctype-public-keyword": 1,
          "unexpected-doctype": 1}),
        (b"<!DOCTYPE html PUBLIC 'a>x'>",
         {"abrupt-doctype-public-identifier": 1, "unexpected-doctype": 1}),
        (b"<!DOCTYPE html SYSTEM 'a>x'>",
         {"abrupt-doctype-system-identifier": 1, "unexpected-doctype": 1}),
        (b"<!DOCTYPE html PUBLIC>",
         {"missing-doctype-public-identifier": 1}),
        (b"<!DOCTYPE html SYSTEM>",
         {"missing-doctype-system-identifier": 1}),
        (b"<!DOCTYPE html><table>x<tr><td>c</td></tr></table>",
         {"fostered-char": 1}),
        (b"<!DOCTYPE html><table><b></b><tr><td>c</td></tr></table>",
         {"fostered-start-tag": 1, "fostered-end-tag": 1}),
    ]

    @pytest.mark.parametrize("data,expected", BATCH,
                             ids=[repr(b)[:40] for b, _ in BATCH])
    def test_per_code_counts(self, data, expected):
        from collections import Counter
        out = parse(data)
        assert dict(Counter(out.errors)) == expected

    def test_all_emitted_codes_are_registered(self):
        from html_parser_spark.engine.errors import ALL_CODES
        for data, _ in self.BATCH:
            for code in parse(data).errors:
                assert code in ALL_CODES, code

    @pytest.mark.skipif(
        not os.path.isfile("/root/reference/lib/Parser/ParseError.php"),
        reason="reference checkout not present")
    def test_registry_covers_reference_standard_set(self):
        """Every standardized code in the reference's registry
        (constants 100-148) is present verbatim; non-standard tree
        codes are either present or have a recorded alias."""
        import re as _re
        from html_parser_spark.engine.errors import (ALL_CODES,
                                                     REFERENCE_ALIASES)
        src = open("/root/reference/lib/Parser/ParseError.php").read()
        consts = _re.findall(r"const ([A-Z_]+)\s*= (\d+);", src)
        for name, num in consts:
            code = name.lower().replace("_", "-")
            if code in ("messages", "report-offsets"):
                continue
            assert code in ALL_CODES or code in REFERENCE_ALIASES, code

    def test_every_source_literal_code_is_registered(self):
        """Static sweep: every literal code the engine can emit exists
        in the registry (f-string doctype codes checked separately by
        the per-code batch)."""
        import re as _re
        from html_parser_spark.engine.errors import ALL_CODES
        import html_parser_spark.engine.tokenizer as _t
        import html_parser_spark.engine.treebuilder as _b
        for mod in (_t, _b):
            src = open(mod.__file__).read()
            lits = _re.findall(
                r"error\(\s*\n?\s*[\"']([a-z0-9.-]+)[\"']", src)
            lits += _re.findall(r"code = [\"']([a-z0-9.-]+)[\"']", src)
            for c in lits:
                assert c in ALL_CODES, c


def test_single_eof_token_every_state():
    """Exactly one (EOF,) from every externally settable tokenizer
    state (regression: the rcdata/rawtext/script sub-generators once
    double-emitted it)."""
    from html_parser_spark.engine import tokenizer as tz
    for state in (tz.DATA, tz.RCDATA, tz.RAWTEXT, tz.SCRIPT_DATA,
                  tz.PLAINTEXT, tz.CDATA_SECTION):
        for text in ("", "ab", "<!--x", "a<b>c", "a\x00b"):
            toks = list(tz.Tokenizer(text, initial_state=state).tokenize())
            assert sum(1 for t in toks if t[0] == tz.EOF) == 1, \
                (state, text, toks)


class TestMainContent:
    """Boilerplate strip + DOM heuristics (north_rule surface) — the
    container-preference and strip rules the corpus oracle can't reach
    (the synthesized pages have no <main>/<article>)."""

    def _main(self, html):
        from html_parser_spark.engine.extractor import extract_main_text
        from html_parser_spark.engine.parser import parse
        return extract_main_text(parse(html).document)

    def test_main_preferred_over_article_and_body(self):
        text, nd = self._main(
            b"<body>chrome<article>art</article><main>M<nav>n</nav></main>")
        assert text == "M"
        assert nd == 1

    def test_article_fallback(self):
        text, nd = self._main(
            b"<body>chrome<article>A<footer>f</footer></article>")
        assert (text, nd) == ("A", 1)

    def test_body_fallback_strips_boilerplate(self):
        text, nd = self._main(
            b"<body>x<script>s()</script><nav>menu</nav>"
            b"<aside>ads</aside>y<form><input></form>")
        assert (text, nd) == ("xy", 4)

    def test_root_tag_itself_never_stripped(self):
        # a <main> is the root even though nothing strips it; nested
        # boilerplate inside still drops
        text, nd = self._main(b"<main>k<template>t</template></main>")
        assert (text, nd) == ("k", 1)

    def test_nested_boilerplate_counts_once(self):
        # the subtree is dropped whole: inner boilerplate not re-counted
        text, nd = self._main(b"<body>a<footer>f<nav>n</nav></footer>b")
        assert (text, nd) == ("ab", 1)

    def test_foreign_subtrees_dropped(self):
        text, nd = self._main(
            b"<body>t<svg><title>s</title></svg><math><mi>m</mi></math>")
        assert (text, nd) == ("t", 2)

    def test_first_main_in_document_order(self):
        text, _ = self._main(b"<body><div><main>first</main></div>"
                             b"<main>second</main>")
        assert text == "first"

    def test_deep_nesting_safe(self):
        html = b"<body>" + b"<div>" * 5000 + b"core" + b"</div>" * 5000
        text, nd = self._main(html)
        assert (text, nd) == ("core", 0)


class TestPdfExtract:
    """engine/pdf.py — the north rule's PDF/layout-parse slot."""

    def test_synthesized_variants_roundtrip(self):
        from html_parser_spark.engine.pdf import extract_pdf_text
        from html_parser_spark.sources.pdfs import (build_pdf,
                                                    expected_pdf_text)
        # ids chosen to hit every variant axis: compressed/raw,
        # Tj/TJ, 1/2 pages, escape line, corrupt
        # 2/12/22/57 hit the %5==2 split-/Contents arm (57 compounds
        # it with two pages + TJ arrays)
        for doc_id in (0, 1, 2, 3, 4, 6, 8, 9, 12, 15, 22, 57, 97, 194):
            url, raw = build_pdf(doc_id, "alpha beta gamma", "en", "s")
            exp = expected_pdf_text(doc_id, "alpha beta gamma", "en")
            if doc_id % 97 == 0:
                import pytest as _p
                with _p.raises(ValueError):
                    extract_pdf_text(raw)
            else:
                assert extract_pdf_text(raw) == exp

    def test_literal_string_escapes(self):
        from html_parser_spark.engine.pdf import _literal_string
        # octal, named escapes, nested balanced parens, line continuation
        s, end = _literal_string(b"(a\\101b)", 0)
        assert s == "aAb"
        s, _ = _literal_string(b"(x\\n\\t\\\\\\(\\))", 0)
        assert s == "x\n\t\\()"
        s, _ = _literal_string(b"(a(nested)b)", 0)
        assert s == "a(nested)b"
        s, _ = _literal_string(b"(one\\\ntwo)", 0)
        assert s == "onetwo"

    def test_tj_array_ignores_kerning(self):
        from html_parser_spark.engine.pdf import _stream_text
        assert _stream_text(b"BT [(he) -120 (llo)] TJ ET") == "hello"

    def test_line_advance_semantics(self):
        from html_parser_spark.engine.pdf import _stream_text
        # leading Td before the first show emits no newline; each
        # advance between shows emits exactly one
        c = b"BT 72 720 Td (a) Tj 0 -14 Td 0 -14 TD (b) Tj T* (c) Tj ET"
        assert _stream_text(c) == "a\nb\nc"

    def test_not_a_pdf_raises(self):
        import pytest as _p
        from html_parser_spark.engine.pdf import extract_pdf_text
        with _p.raises(ValueError):
            extract_pdf_text(b"<html>nope</html>")

    def test_cr_line_continuations(self):
        from html_parser_spark.engine.pdf import _literal_string
        # \<CR> and \<CR><LF> are continuations like \<LF>
        s, _ = _literal_string(b"(one\\\rtwo)", 0)
        assert s == "onetwo"
        s, _ = _literal_string(b"(one\\\r\ntwo)", 0)
        assert s == "onetwo"

    def test_octal_overflow_wraps_mod_256(self):
        from html_parser_spark.engine.pdf import _literal_string
        # PDF 32000 §7.3.4.2: high-order overflow ignored
        s, _ = _literal_string(b"(\\777)", 0)
        assert s == chr(0xFF)

    def test_unreadable_page_hard_fails(self):
        import pytest as _p
        from html_parser_spark.engine.pdf import extract_pdf_text
        # a visible page whose content cannot be resolved must raise,
        # not silently return partial text with ok=true
        base = (b"%PDF-1.4\n"
                b"1 0 obj\n<< /Type /Page /Contents 9 0 R >>\nendobj\n"
                b"2 0 obj\n<< /Type /Page /Contents 3 0 R >>\nendobj\n"
                b"3 0 obj\n<< /Length 14 >>\nstream\n"
                b"BT (ok) Tj ET\nendstream\nendobj\n")
        with _p.raises(ValueError, match="missing content obj 9"):
            extract_pdf_text(base)
        nocontents = (b"%PDF-1.4\n"
                      b"1 0 obj\n<< /Type /Page >>\nendobj\n")
        with _p.raises(ValueError, match="no /Contents"):
            extract_pdf_text(nocontents)

    def test_type_page_without_space_and_array_contents(self):
        from html_parser_spark.engine.pdf import extract_pdf_text
        # /Type/Page (no space) + /Contents array; the two streams are
        # concatenated BEFORE parsing so the line advance pending at
        # the seam survives (b lands on a new line)
        doc = (b"%PDF-1.4\n"
               b"1 0 obj\n<< /Type/Page /Contents [2 0 R 3 0 R] >>\n"
               b"endobj\n"
               b"2 0 obj\n<< /Length 99 >>\nstream\n"
               b"BT (a) Tj 0 -14 Td\nendstream\nendobj\n"
               b"3 0 obj\n<< /Length 99 >>\nstream\n"
               b"(b) Tj ET\nendstream\nendobj\n")
        assert extract_pdf_text(doc) == "a\nb"


class TestExtractTables:
    """Structured table extraction: document-order numbering, nested
    tables, fostered text exclusion, th headers, cell-less rows."""

    def _cells(self, html: bytes):
        from html_parser_spark.engine import parse
        from html_parser_spark.engine.extractor import extract_tables
        return extract_tables(parse(html).document)

    def test_fostered_text_not_in_cells(self):
        got = self._cells(b"<div><table><tbody><tr><td>cellA</td>"
                          b"<td>cellB</td></tr>STRAY</tbody></table></div>")
        assert got == [(0, 0, 0, False, "cellA"), (0, 0, 1, False, "cellB")]

    def test_nested_table_own_index_outer_text_excluded(self):
        got = self._cells(b"<table><tr><td>o<table><tr><td>n</td></tr>"
                          b"</table>tail</td></tr></table>")
        # the outer cell's text is 'o' + 'tail' (text resumes in the
        # td once the nested table closes); the nested table's cell
        # reports under its own table_idx, never inside the outer cell
        assert got == [(0, 0, 0, False, "otail"), (1, 0, 0, False, "n")]

    def test_headers_sections_and_short_rows(self):
        got = self._cells(b"<table><thead><tr><th>H1</th><th>H2</th></tr>"
                          b"</thead><tbody><tr><td>a</td><td>b</td></tr>"
                          b"<tr><td>c</td></tr></tbody></table>")
        assert got == [(0, 0, 0, True, "H1"), (0, 0, 1, True, "H2"),
                       (0, 1, 0, False, "a"), (0, 1, 1, False, "b"),
                       (0, 2, 0, False, "c")]

    def test_two_sibling_tables_document_order(self):
        got = self._cells(b"<table><tr><td>first</td></tr></table>"
                          b"<table><tr><td>second</td></tr></table>")
        assert got == [(0, 0, 0, False, "first"), (1, 0, 0, False, "second")]

    def test_row_without_cells_still_counts(self):
        got = self._cells(b"<table><tr></tr><tr><td>x</td></tr></table>")
        assert got == [(0, 1, 0, False, "x")]

    def test_cell_with_markup_text(self):
        got = self._cells(b"<table><tr><td><b>bo</b>ld <i>i</i></td>"
                          b"</tr></table>")
        assert got == [(0, 0, 0, False, "bold i")]

    def test_no_tables(self):
        assert self._cells(b"<p>plain paragraph</p>") == []


def _regex_scan(s: str) -> tuple[list[str], list[int]]:
    """Input-stream errors as one whole-string regex search finds them
    (the scan before ASCII strings were checked slice by slice)."""
    import sys
    from html_parser_spark.engine import tokenizer as tz
    hits = list(tz._BAD_BMP_RE.finditer(s))
    if not s.isascii() and sys.getsizeof(s) >= 4 * len(s):
        hits = sorted(hits + list(tz._BAD_ASTRAL_RE.finditer(s)),
                      key=lambda m: m.start())
    codes = []
    for m in hits:
        o = ord(m.group())
        if 0xD800 <= o <= 0xDFFF:
            codes.append("surrogate-in-input-stream")
        elif 0xFDD0 <= o <= 0xFDEF or (o & 0xFFFE) == 0xFFFE:
            codes.append("noncharacter-in-input-stream")
        else:
            codes.append("control-character-in-input-stream")
    return codes, [m.start() for m in hits]


@pytest.mark.parametrize("seed", range(3))
def test_input_stream_scan_matches_whole_string_regex(seed):
    """The ASCII scan works on bounded slices: a bad byte at either
    edge of a slice, in the short last slice, or nowhere must give the
    codes and offsets of the whole-string regex search. Non-ASCII
    strings (latin-1, BMP noncharacters and lone surrogates, astral)
    take the regex path and are checked alike."""
    import random
    from html_parser_spark.engine import tokenizer as tz

    def scan(s):
        t = tz.Tokenizer(s, track_positions=True)
        t._scan_input_stream()
        return t.errors, t.offsets

    rng = random.Random(seed)
    chunk = tz._SCAN_CHUNK
    bad = [chr(c) for c in range(0x80) if tz._BAD_BMP_RE.match(chr(c))]
    assert len(bad) == 28
    n = 3 * chunk + rng.randrange(1, chunk)
    base = rng.choices("abc <>&/=\"'\n\t\x00\x0c", k=n)
    edges = [0, n - 1] + [k * chunk + d for k in (1, 2, 3) for d in (-1, 0)]
    cases = ["".join(base)]
    for i, ch in enumerate(bad):
        chars = list(base)
        chars[edges[i] if i < len(edges) else rng.randrange(n)] = ch
        cases.append("".join(chars))
    chars = list(base)
    for at in edges:
        chars[at] = rng.choice(bad)
    for ch in bad:
        chars[rng.randrange(n)] = ch
    cases.append("".join(chars))
    for extra in ("\xe9\x85\x9f\xa0", "\ufdd0\ufffe\uffff\ud800x\udfff",
                  "\U0001fffe\U0010ffff\U0001f600\x7f"):
        chars = list(base)
        for ch in extra:
            chars[rng.randrange(n)] = ch
        cases.append("".join(chars))
    for s in cases:
        codes, offsets = scan(s)
        assert (codes, offsets) == _regex_scan(s)
    assert scan("")[0] == [] and scan("".join(base))[0] == []
