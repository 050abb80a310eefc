"""Lightweight slotted DOM for the extraction engine.

The reference builds into PHP's ``\\DOMDocument`` and needs XML-name
coercion workarounds (/root/reference/lib/Parser/NameCoercion.php:33-67);
we use plain Python objects that accept any string name, so coerce/uncoerce
is unnecessary and the *observable* round-trip behavior is the spec behavior
(see SURVEY.md §2.7).

Namespaces follow the WHATWG model: HTML elements carry the HTML namespace
URI (unlike the reference, which defaults to the null namespace for PHP
performance, /root/reference/lib/Parser.php:27-41).

Attributes are stored in an insertion-ordered dict. Keys are either a plain
``str`` (no namespace — the common HTML case) or a ``(prefix, local, ns)``
tuple for namespaced attributes created by foreign-content adjustment.

A node holds its parent through a weak reference (``_parent``, read as
the ``parent`` property), so a parsed tree holds no reference cycle:
reference counting frees it as soon as its last user drops it, with no
help from the cyclic collector.
"""

from __future__ import annotations

from weakref import ref

HTML_NS = "http://www.w3.org/1999/xhtml"
MATHML_NS = "http://www.w3.org/1998/Math/MathML"
SVG_NS = "http://www.w3.org/2000/svg"
XLINK_NS = "http://www.w3.org/1999/xlink"
XML_NS = "http://www.w3.org/XML/1998/namespace"
XMLNS_NS = "http://www.w3.org/2000/xmlns/"

# quirks-mode constants match the reference's (/root/reference/lib/Parser.php:22-24)
NO_QUIRKS = 0
QUIRKS = 1
LIMITED_QUIRKS = 2


def child_index(children: list, node: "Node") -> int:
    """Position of ``node`` in ``children``, searched from the end. The
    only reference node the tree builder inserts before is the table
    that foster parenting moves content out of, almost always at or
    near the end of its parent's children; a search from the front made
    repeated tables (``<table>x`` * n) parse in quadratic time."""
    for i in range(len(children) - 1, -1, -1):
        if children[i] is node:
            return i
    raise ValueError("reference node is not a child")


class Node:
    __slots__ = ("_parent",)

    _parent: "ref[ParentNode] | None"

    @property
    def parent(self) -> "ParentNode | None":
        p = self._parent
        return None if p is None else p()


class ParentNode(Node):
    __slots__ = ("children", "__weakref__")

    def __init__(self) -> None:
        self._parent = None
        self.children: list[Node] = []

    def append(self, child: Node) -> None:
        old = child.parent
        if old is not None:
            old.remove(child)
        child._parent = ref(self)
        self.children.append(child)

    def insert_before(self, child: Node, before: Node | None) -> None:
        old = child.parent
        if old is not None:
            old.remove(child)
        child._parent = ref(self)
        if before is None:
            self.children.append(child)
        else:
            self.children.insert(child_index(self.children, before), child)

    def remove(self, child: Node) -> None:
        self.children.remove(child)
        child._parent = None


class Document(ParentNode):
    __slots__ = ("quirks_mode", "doctype")

    def __init__(self) -> None:
        super().__init__()
        self.quirks_mode = NO_QUIRKS
        self.doctype: "DocumentType | None" = None


class DocumentFragment(ParentNode):
    __slots__ = ()


class DocumentType(Node):
    __slots__ = ("name", "public_id", "system_id")

    def __init__(self, name: str, public_id: str, system_id: str) -> None:
        self._parent = None
        self.name = name
        self.public_id = public_id
        self.system_id = system_id


class Element(ParentNode):
    __slots__ = ("name", "namespace", "attrs", "content", "skey", "on_stack")

    def __init__(self, name: str, namespace: str = HTML_NS, attrs: dict | None = None) -> None:
        # fields inlined (no super() chain): Element construction is one
        # of the hottest allocation sites in the parse
        self._parent = None
        self.children = []
        self.name = name
        self.namespace = namespace
        # precomputed scope key: (ns, name) tuples are probed against
        # the scope frozensets on every in-scope walk; name/namespace
        # are immutable after construction so the tuple is built once
        self.skey = (namespace, name)
        self.attrs: dict = attrs if attrs is not None else {}
        # times this element sits on a tree builder's stack of open
        # elements (kept by treebuilder.ElementStack): an O(1) "is it
        # open" test where a list scan would make parsing quadratic
        self.on_stack = 0
        # <template> contents live in a separate fragment, not in children
        # (WHATWG "template contents"; the reference flattens them due to a
        # PHP limitation, /root/reference/README.md:216 — we implement the
        # spec model).
        if name == "template" and namespace == HTML_NS:
            self.content: DocumentFragment | None = DocumentFragment()
        else:
            self.content = None

    def get(self, name: str, default=None):
        return self.attrs.get(name, default)


class Text(Node):
    __slots__ = ("data",)

    def __init__(self, data: str) -> None:
        self._parent = None
        self.data = data


class Comment(Node):
    __slots__ = ("data",)

    def __init__(self, data: str) -> None:
        self._parent = None
        self.data = data


class ProcessingInstruction(Node):
    __slots__ = ("target", "data")

    def __init__(self, target: str, data: str) -> None:
        self._parent = None
        self.target = target
        self.data = data


_NS_DISPLAY_PREFIX = {XLINK_NS: "xlink", XML_NS: "xml", XMLNS_NS: "xmlns"}


def attr_sort_key(key) -> str:
    """Qualified attribute name used for canonical (test) serialization.

    html5lib pipe format shows namespaced attributes as
    ``<conventional-ns-prefix> <localname>`` keyed on the *namespace*
    (so a bare ``xmlns`` attribute, which lives in the XMLNS namespace,
    prints as ``xmlns xmlns``)."""
    if isinstance(key, tuple):
        prefix, local, ns = key
        p = _NS_DISPLAY_PREFIX.get(ns, prefix)
        return f"{p} {local}" if p else local
    return key


def to_test_tree(node: Node, indent: int = 0, out: list[str] | None = None) -> str:
    """Serialize to the html5lib tree-construction pipe format.

    Format per the public html5lib-tests documentation: lines of
    ``| <2*depth spaces><node>`` with attrs sorted by name, template
    contents under a ``content`` pseudo-node.
    """
    top = out is None
    if out is None:
        out = []
    pad = "  " * indent

    def line(s: str) -> None:
        out.append(f"| {pad}{s}")

    if isinstance(node, (Document, DocumentFragment)):
        for child in node.children:
            to_test_tree(child, indent, out)
    elif isinstance(node, DocumentType):
        if node.public_id or node.system_id:
            line(f'<!DOCTYPE {node.name} "{node.public_id}" "{node.system_id}">')
        elif node.name:
            line(f"<!DOCTYPE {node.name}>")
        else:
            line("<!DOCTYPE >")
    elif isinstance(node, Comment):
        line(f"<!-- {node.data} -->")
    elif isinstance(node, ProcessingInstruction):
        line(f"<?{node.target} {node.data}>")
    elif isinstance(node, Text):
        line(f'"{node.data}"')
    elif isinstance(node, Element):
        if node.namespace == SVG_NS:
            line(f"<svg {node.name}>")
        elif node.namespace == MATHML_NS:
            line(f"<math {node.name}>")
        else:
            line(f"<{node.name}>")
        for key in sorted(node.attrs, key=attr_sort_key):
            value = node.attrs[key]
            line(f'  {attr_sort_key(key)}="{value}"')
        if node.content is not None:
            out.append(f"| {pad}  content")
            for child in node.content.children:
                to_test_tree(child, indent + 2, out)
        for child in node.children:
            to_test_tree(child, indent + 1, out)
    if top:
        return "\n".join(out)
    return ""
