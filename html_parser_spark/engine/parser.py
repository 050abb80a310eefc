"""One-call parse API: bytes -> Output{document, encoding, quirks, errors}.

Mirrors the reference's entry points (/root/reference/lib/Parser.php:49-142):
encoding sniff ladder, decode, fused tokenize+tree-construct, and the
bounded meta-charset re-parse (at most one restart; the ASCII fast path
avoids it when both encodings agree on the input, parity
/root/reference/lib/Parser/Data.php:355-369).
"""

from __future__ import annotations

from . import charset, tokenizer as tz
from .dom import Document, DocumentFragment, Element, HTML_NS, NO_QUIRKS
from .treebuilder import EncodingChangeRequired, TreeBuilder


class Output:
    __slots__ = ("document", "encoding", "quirks_mode", "errors",
                 "n_tokens", "n_elements", "error_positions",
                 "n_tokenizer_errors")

    def __init__(self, document: Document, encoding: str, quirks_mode: int,
                 errors: list[str], n_tokens: int = 0,
                 n_elements: int = 0,
                 error_positions: list[tuple[str, int, int]] | None = None,
                 n_tokenizer_errors: int = 0) -> None:
        self.document = document
        self.encoding = encoding
        self.quirks_mode = quirks_mode
        self.errors = errors
        # tokenizer / tree-builder counters (north-star per-doc metrics)
        self.n_tokens = n_tokens
        self.n_elements = n_elements
        # debug mode only (track_positions=True): (code, line, col)
        # tuples, 1-based, html5lib/reference format
        # (ParseErrorEmitter.php:62-69) — tokenizer errors first, then
        # tree-construction errors (which point at the last input char
        # consumed, the reference's whereIs(0)); None in production
        self.error_positions = error_positions
        # split point of error_positions: the first n_tokenizer_errors
        # tuples are tokenizer-level, the rest tree-construction
        self.n_tokenizer_errors = n_tokenizer_errors


def _parse_text(text: str, scripting: bool, meta_hook=None, pi: bool = False,
                track_positions: bool = False):
    t = tz.Tokenizer(text, track_positions=track_positions)
    tb = TreeBuilder(t, scripting=scripting, meta_encoding_hook=meta_hook,
                     processing_instructions=pi)
    doc = tb.run()
    # error/position ordering matches the errors list: tokenizer first,
    # then tree-construction (both in emission order)
    positions = (t.error_positions() + tb.error_positions()
                 if track_positions else None)
    return doc, t.errors + tb.errors, tb, positions, len(t.errors)


def parse(data: bytes | str, transport_charset: str | None = None,
          scripting: bool = False, pi: bool = False,
          track_positions: bool = False) -> Output:
    """Parse a full HTML document from raw bytes (or pre-decoded text).

    ``track_positions=True`` enables the debug/conformance mode that
    records (line, col) per tokenizer error — gated so the production
    path pays no bookkeeping (reference parity: Data.php:56-57)."""
    if isinstance(data, str):
        doc, errors, tb, positions, n_tok_err = _parse_text(
            data, scripting, pi=pi, track_positions=track_positions)
        return Output(doc, "utf-8", doc.quirks_mode, errors,
                      tb.n_tokens, tb.n_elements, positions, n_tok_err)

    encoding, certain = charset.sniff(data, transport_charset)
    for _attempt in range(2):
        text, n_decode_errors = charset.decode_count(data, encoding)
        changed: list[str] = []

        def meta_hook(new_enc: str, _certain=certain, _enc=encoding) -> None:
            if _certain:
                return
            if new_enc in ("utf-16be", "utf-16le"):
                new_enc = "utf-8"
            elif new_enc == "x-user-defined":
                new_enc = "windows-1252"
            if new_enc == _enc:
                return
            # restart only when the two decodings actually differ
            if data.isascii() and new_enc not in ("utf-16be", "utf-16le", "replacement") \
                    and _enc not in ("utf-16be", "utf-16le", "replacement",
                                     "iso-2022-jp", "x-user-defined"):
                changed.append(new_enc)  # relabel, identical decode
                return
            raise EncodingChangeRequired(new_enc)

        try:
            doc, errors, tb, positions, n_tok_err = _parse_text(
                text, scripting, meta_hook if not certain else None,
                pi=pi, track_positions=track_positions)
        except EncodingChangeRequired as e:
            encoding = e.encoding
            certain = True
            continue
        if changed:
            encoding = changed[-1]
        if n_decode_errors:
            # one encoding-error per malformed sequence replaced
            # (reference Data.php / ParseError.php ENCODING_ERROR)
            errors = ["encoding-error"] * n_decode_errors + errors
        return Output(doc, encoding, doc.quirks_mode, errors,
                      tb.n_tokens, tb.n_elements, positions, n_tok_err)
    raise AssertionError("unreachable: at most one encoding restart")


def parse_fragment(data: bytes | str, context: str | Element,
                   quirks_mode: int = NO_QUIRKS, encoding: str | None = None,
                   scripting: bool = False,
                   pi: bool = False) -> DocumentFragment:
    """innerHTML-style fragment parse (parity:
    /root/reference/lib/Parser.php:61-72, fragment algorithm
    /root/reference/lib/Parser/TreeConstructor.php:278-323).

    ``context`` is an Element or a name like ``"div"``, ``"svg path"``,
    ``"math ms"`` (html5lib fragment-context syntax).
    """
    if isinstance(context, str):
        parts = context.split()
        if len(parts) == 2:
            ns = {"svg": "http://www.w3.org/2000/svg",
                  "math": "http://www.w3.org/1998/Math/MathML"}[parts[0]]
            context = Element(parts[1], ns)
        else:
            context = Element(parts[0], HTML_NS)
    if isinstance(data, bytes):
        enc = encoding or charset.sniff(data)[0]
        data = charset.decode(data, enc)
    t = tz.Tokenizer(data)
    tb = TreeBuilder(t, scripting=scripting, fragment_context=context,
                     processing_instructions=pi)
    tb.doc.quirks_mode = quirks_mode
    doc = tb.run()
    frag = DocumentFragment()
    root = doc.children[0] if doc.children else None
    if root is not None:
        for child in list(root.children):
            root.remove(child)
            frag.append(child)
    return frag
