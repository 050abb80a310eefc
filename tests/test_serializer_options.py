"""Serializer-options parity: run the reference's bundled
provideCustomSerializations cases (TestSerializer.php, read in place)
through our configurable serializer — boolean attribute values,
foreign void end tags, and the whitespace-reformatting pretty-printer.

The provider cases are skipped when the reference checkout is absent;
the other tests build their own inputs and always run.
"""

from __future__ import annotations

import os
import re

import pytest

from html_parser_spark.engine import parse, parse_fragment
from html_parser_spark.engine import serializer_options as so

_REF = "/root/reference/tests/cases/TestSerializer.php"

_CASE_RE = re.compile(
    r"\[(true|false),\s*(null|'[^']*'),\s*(\d+),\s*(true|false),\s*"
    r"(true|false),\s*(true|false),\s*(true|false),\s*(true|false),\s*"
    r"<<<HTML\n(.*?)\n\s*HTML,\s*<<<HTML\n(.*?)\n\s*HTML\n?\s*\]",
    re.S)


def _heredoc(body: str) -> str:
    lines = body.split("\n")
    nonempty = [ln for ln in lines if ln.strip()]
    ind = min(len(ln) - len(ln.lstrip(" ")) for ln in nonempty)
    text = "\n".join(ln[ind:] if ln.strip() else "" for ln in lines)
    # PHP heredocs process escapes
    return (text.replace("\\t", "\t").replace("\\n", "\n")
            .replace("\\$", "$").replace("\\\\", "\\"))


def _load_cases():
    src = open(_REF).read()
    start = src.index("public function provideCustomSerializations")
    end = src.index("/** @dataProvider provideCustomSerializationsForNodes")
    out = []
    for i, m in enumerate(_CASE_RE.finditer(src[start:end])):
        frag, ctx, step, spaces, pi, reformat, boolattr, fvoid, inp, exp = \
            m.groups()
        out.append((
            f"case{i}",
            frag == "true",
            None if ctx == "null" else ctx.strip("'"),
            int(step),
            spaces == "true",
            pi == "true",
            reformat == "true",
            boolattr == "true",
            fvoid == "true",
            _heredoc(inp),
            _heredoc(exp)))
    return out


if os.path.isfile(_REF):
    _CASES = _load_cases()
    assert len(_CASES) >= 16  # the bundled provider
else:
    _CASES = []


@pytest.mark.skipif(not os.path.isfile(_REF),
                    reason="reference checkout not present")
@pytest.mark.parametrize(
    "cid,frag,ctx,step,spaces,pi,reformat,boolattr,fvoid,inp,exp",
    _CASES, ids=[c[0] for c in _CASES])
def test_reference_serializer_options(cid, frag, ctx, step, spaces, pi,
                                      reformat, boolattr, fvoid, inp, exp):
    opts = dict(boolean_attribute_values=boolattr,
                foreign_void_end_tags=fvoid,
                reformat_whitespace=reformat,
                indent_step=step,
                indent_with_spaces=spaces)
    if frag:
        node = parse_fragment(inp, ctx, pi=pi)
    else:
        node = parse(inp, pi=pi).document
    assert so.serialize(node, **opts) == exp


def test_defaults_match_plain_serializer():
    """With default options the configurable path must be
    byte-identical to the hot-path serializer."""
    from html_parser_spark.engine import serialize as fast
    for html in (
        "<!DOCTYPE html><p class='x'>a<b>b</b></p><table><td>1</table>",
        "<svg><circle/></svg><math><mi>m</mi></math>",
        "<template><p>t</p></template><script>a<b</script>",
        "<pre>\n keep\n</pre><input disabled>",
    ):
        doc = parse(html).document
        assert so.serialize(doc) == fast(doc)


def test_unknown_option_rejected():
    with pytest.raises(ValueError):
        so.serialize(parse("x").document, bogus=True)


def _find(node, name):
    """First element named `name` in tree order (any namespace)."""
    from html_parser_spark.engine.dom import Element
    stack = [node]
    while stack:
        n = stack.pop(0)
        if isinstance(n, Element):
            if n.name == name:
                return n
            stack = list(n.children) + stack
        elif hasattr(n, "children"):
            stack = list(n.children) + stack
    return None


class TestSoloNodeSerialization:
    """Mirrors the reference's provideCustomSerializationsForNodes
    (TestSerializer.php:478-629): single extracted/detached nodes with
    the pretty-printer on."""

    OPTS = dict(reformat_whitespace=True, indent_step=1,
                indent_with_spaces=True, boolean_attribute_values=False)

    def test_solo_p_attached_and_detached(self):
        doc = parse("<!DOCTYPE html><html>\n <body>\n  <p> Ook! </p>"
                    "\n </body>\n</html>").document
        p = _find(doc, "p")
        assert so.serialize(p, **self.OPTS) == "<p>Ook!</p>"
        p.parent.remove(p)
        assert so.serialize(p, **self.OPTS) == "<p>Ook!</p>"

    SVG_DOC = ("<!DOCTYPE html><html>\n <body>\n"
               '  <svg role="img" viewBox="0 0 26 26"><title>Ook</title>\n'
               '      <rect id="eek--a" width="5" height="5"/></svg>\n'
               " </body>\n</html>")

    def test_solo_svg_inline_with_context(self):
        doc = parse(self.SVG_DOC).document
        svg = _find(doc, "svg")
        assert so.serialize(svg, **self.OPTS) == (
            '<svg role="img" viewBox="0 0 26 26"><title>Ook</title> '
            '<rect id="eek--a" width="5" height="5"></rect></svg>')

    def test_solo_svg_detached_is_block(self):
        doc = parse(self.SVG_DOC).document
        svg = _find(doc, "svg")
        svg.parent.remove(svg)
        assert so.serialize(svg, **self.OPTS) == (
            '<svg role="img" viewBox="0 0 26 26">\n'
            " <title>Ook</title>\n\n"
            ' <rect id="eek--a" width="5" height="5"></rect>\n'
            "</svg>")

    def test_solo_inner_g_block_context(self):
        doc = parse("<!DOCTYPE html><html>\n <body>\n"
                    '  <svg><g><g><rect id="eek--a" width="5" height="5"/>'
                    "</g></g></svg>\n  <div></div>\n </body>\n</html>"
                    ).document
        outer_g = _find(doc, "g")
        inner_g = outer_g.children[0]
        opts = dict(self.OPTS, foreign_void_end_tags=False)
        assert so.serialize(inner_g, **opts) == (
            '<g>\n <rect id="eek--a" width="5" height="5"/>\n</g>')

    def test_solo_detached_text(self):
        doc = parse("<!DOCTYPE html><html>\n <body>\n"
                    "  OOK eeek ooooooook     ook\n\n </body>\n</html>"
                    ).document
        body = _find(doc, "body")
        from html_parser_spark.engine.dom import Text
        text = next(c for c in body.children if isinstance(c, Text))
        body.remove(text)
        assert so.serialize(text, **self.OPTS) == "OOK eeek ooooooook ook"
