"""WHATWG HTML fragment serialization (§13.3 of the public spec).

Capability parity with the reference's Serializer
(/root/reference/lib/Parser/Serializer.php:70-528) minus its non-standard
pretty-printer (off by default there, dropped here per SURVEY.md §2.8).
The rawtext-literal rule (text inside style/script/... serialized verbatim,
parity Serializer.php:353-356) is load-bearing for byte-identical output.
"""

from __future__ import annotations

from .dom import (
    XLINK_NS, XML_NS, XMLNS_NS, HTML_NS,
    Comment, Document, DocumentFragment, DocumentType, Element, Node,
    ProcessingInstruction, Text,
)
from .tables import VOID_HTML

_RAWTEXT_PARENTS = frozenset(
    ["style", "script", "xmp", "iframe", "noembed", "noframes", "plaintext"])


def _escape_text(s: str) -> str:
    if "&" in s:
        s = s.replace("&", "&amp;")
    if "\xa0" in s:
        s = s.replace("\xa0", "&nbsp;")
    if "<" in s:
        s = s.replace("<", "&lt;")
    if ">" in s:
        s = s.replace(">", "&gt;")
    return s


def _escape_attr(s: str) -> str:
    if "&" in s:
        s = s.replace("&", "&amp;")
    if "\xa0" in s:
        s = s.replace("\xa0", "&nbsp;")
    if '"' in s:
        s = s.replace('"', "&quot;")
    return s


def _attr_name(key) -> str:
    if isinstance(key, tuple):
        prefix, local, ns = key
        if ns == XML_NS:
            return f"xml:{local}"
        if ns == XMLNS_NS:
            return "xmlns" if local == "xmlns" and not prefix else f"xmlns:{local}"
        if ns == XLINK_NS:
            return f"xlink:{local}"
        # any other namespace: the attribute's qualified name (WHATWG
        # serialization §"attribute's serialized name", final clause)
        return f"{prefix}:{local}" if prefix else local
    return key


def _serialize_nodes(nodes, out: list[str], scripting: bool) -> None:
    """Serialize ``nodes`` and their subtrees, in document order, onto
    ``out``. An explicit stack of child iterators, not recursion:
    crawl documents nest deeper than Python's recursion limit (the
    same walk as ``extractor.extract_text``). A frame is (children,
    raw-text parent?, end tag to emit when the children run out)."""
    frames: list[tuple] = [(iter(nodes), False, None)]
    while frames:
        it, raw, end = frames[-1]
        for node in it:
            if isinstance(node, Element):
                out.append("<")
                out.append(node.name)
                for key, value in node.attrs.items():
                    out.append(" ")
                    out.append(_attr_name(key))
                    out.append('="')
                    out.append(_escape_attr(value))
                    out.append('"')
                out.append(">")
                if node.namespace == HTML_NS and node.name in VOID_HTML:
                    continue
                end_tag = f"</{node.name}>"
                if node.content is not None:  # template contents
                    frames.append((iter(node.content.children), False,
                                   end_tag))
                else:
                    frames.append((iter(node.children),
                                   node.namespace == HTML_NS and (
                                       node.name in _RAWTEXT_PARENTS
                                       or (node.name == "noscript"
                                           and scripting)),
                                   end_tag))
                break
            if isinstance(node, Text):
                out.append(node.data if raw else _escape_text(node.data))
            elif isinstance(node, Comment):
                out.append("<!--")
                out.append(node.data)
                out.append("-->")
            elif isinstance(node, ProcessingInstruction):
                out.append("<?")
                out.append(node.target)
                out.append(" ")
                out.append(node.data)
                out.append(">")
            elif isinstance(node, DocumentType):
                out.append("<!DOCTYPE ")
                out.append(node.name)
                out.append(">")
            elif isinstance(node, (Document, DocumentFragment)):
                frames.append((iter(node.children), False, None))
                break
        else:
            frames.pop()
            if end is not None:
                out.append(end)


def serialize_inner(node: Node, scripting: bool = False) -> str:
    """innerHTML: serialize the children of ``node``."""
    out: list[str] = []
    if isinstance(node, Element) and node.content is not None:
        _serialize_nodes(node.content.children, out, scripting)
    elif isinstance(node, (Element, Document, DocumentFragment)):
        _serialize_nodes(node.children, out, scripting)
    return "".join(out)


def serialize(node: Node, scripting: bool = False) -> str:
    """outerHTML: serialize ``node`` itself (documents serialize children)."""
    out: list[str] = []
    _serialize_nodes((node,), out, scripting)
    return "".join(out)
