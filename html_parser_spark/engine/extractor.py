"""Text extraction: DOM textContent of <body> + element spans.

The reference's canonical extraction is DOM ``textContent`` of the body
element (demonstrated at /root/reference/README.md:138-147); this module
reproduces that invariant (the `BASELINE.json` byte-identical-text-per-url
check hangs off it) and additionally emits per-element character spans for
the output table's ``spans`` column.
"""

from __future__ import annotations

from .dom import HTML_NS, Document, DocumentFragment, Element, Text


def find_body(doc: Document) -> Element | None:
    for child in doc.children:
        if isinstance(child, Element) and child.namespace == HTML_NS and child.name == "html":
            for sub in child.children:
                if isinstance(sub, Element) and sub.namespace == HTML_NS \
                        and sub.name in ("body", "frameset"):
                    return sub if sub.name == "body" else None
    return None


def text_content(node) -> str:
    """DOM textContent: concatenation of all descendant Text data in tree
    order. Template *contents* are excluded (they are not children)."""
    parts: list[str] = []
    stack = [node]
    while stack:
        n = stack.pop()
        t = type(n)  # exact types: the DOM classes are not subclassed
        if t is Text:
            parts.append(n.data)
        elif t is Element or t is Document or t is DocumentFragment:
            stack.extend(reversed(n.children))
    return "".join(parts)


def extract_body_text(doc: Document) -> str:
    """Fast path: body.textContent only, no span bookkeeping (used by
    the production no-spans job). Identical text to extract_text()[0]."""
    body = find_body(doc)
    return text_content(body) if body is not None else ""


def extract_text(doc: Document, max_spans: int = 10_000,
                 max_path_depth: int = 256):
    """Returns (text, spans) where ``text`` is body.textContent and
    ``spans`` is a list of (path, tag, start, end) char-offset tuples, one
    per element under body in document order (capped at ``max_spans``).

    Elements nested deeper than ``max_path_depth`` get no span (their
    text still lands in ``text``): each path string is O(depth) chars,
    so uncapped paths make span extraction O(depth²) on adversarial
    deep-nested crawl documents — a 100k-deep div bomb is ~5 GB of
    path churn. Real content sits far above 256 (browsers hard-cap the
    DOM at a similar depth)."""
    body = find_body(doc)
    if body is None:
        return "", []
    parts: list[str] = []
    spans: list[tuple[str, str, int, int]] = []
    offset = 0
    # explicit-stack post-order walk (adversarial crawl documents nest
    # deeper than Python's recursion limit); spans are emitted when a
    # subtree completes, exactly like the recursive formulation.
    # Frames hold child ITERATORS (no index bookkeeping, no closure /
    # nonlocal-cell access — measurably faster than both the recursive
    # form and an indexed explicit stack).
    frames: list[tuple] = [(iter(body.children), "body", {})]
    pending: list[tuple] = []  # (path|None, tag, start) per non-root frame
    while frames:
        it, path, counters = frames[-1]
        descended = False
        for child in it:
            t = type(child)
            if t is Text:
                parts.append(child.data)
                offset += len(child.data)
            elif t is Element:
                if (path is None or len(frames) > max_path_depth
                        or len(spans) >= max_spans):
                    # span list already full: every span emitted from
                    # here on is dropped post-order anyway, so stop
                    # paying for path strings (giant docs otherwise
                    # build tens of thousands of dead paths)
                    child_path = None
                else:
                    idx = counters.get(child.name, 0)
                    counters[child.name] = idx + 1
                    child_path = f"{path}/{child.name}[{idx}]"
                pending.append((child_path, child.name, offset))
                frames.append((iter(child.children), child_path, {}))
                descended = True
                break
        if not descended:
            frames.pop()
            if frames:
                cp, name, start = pending.pop()
                if cp is not None and len(spans) < max_spans:
                    spans.append((cp, name, start, offset))
    return "".join(parts), spans


# readability/trafilatura-style boilerplate tags: subtrees whose text is
# chrome/noise for a training corpus, not main content (north_rule:
# "main-content extraction pipeline (HTML boilerplate strip, DOM
# heuristics)"). The reference stops at body.textContent; this layer is
# our pipeline's addition on top of the spec-exact DOM.
BOILERPLATE_TAGS = frozenset({
    "script", "style", "template", "noscript", "nav", "header", "footer",
    "aside", "iframe", "form", "button", "select", "option", "textarea",
    "svg", "math",
})


def select_content_root(body: Element) -> Element:
    """DOM heuristic for the main-content container: the first <main>,
    else the first <article>, else the body itself (document order,
    preorder). Mirrors the semantic-HTML fast path every readability
    implementation takes before falling back to scoring."""
    first_article = None
    stack = [body]
    while stack:
        n = stack.pop()
        if type(n) is Element and n.namespace == HTML_NS:
            if n.name == "main":
                return n
            if n.name == "article" and first_article is None:
                first_article = n
        if isinstance(n, (Element, Document, DocumentFragment)):
            stack.extend(reversed(n.children))
    return first_article if first_article is not None else body


def extract_main_text(doc: Document) -> tuple[str, int]:
    """(main_text, n_dropped): textContent of the content root with
    boilerplate subtrees removed; n_dropped counts the removed
    subtrees. Template contents are already excluded (not children).
    Foreign (svg/math) subtrees count as boilerplate regardless of
    namespace — their tag names are in the set."""
    body = find_body(doc)
    if body is None:
        return "", 0
    root = select_content_root(body)
    parts: list[str] = []
    dropped = 0
    stack = [root]
    while stack:
        n = stack.pop()
        t = type(n)
        if t is Text:
            parts.append(n.data)
        elif t is Element:
            if n is not root and n.name in BOILERPLATE_TAGS:
                dropped += 1
                continue
            stack.extend(reversed(n.children))
        elif isinstance(n, (Document, DocumentFragment)):
            stack.extend(reversed(n.children))
    return "".join(parts), dropped


def extract_tables(doc: Document) -> list[tuple]:
    """Structured table extraction: every table cell in the document as
    ``(table_idx, row_idx, col_idx, is_header, cell_text)``.

    Semantics (deterministic on any parsed DOM):

    - tables are numbered in document order, nested tables included —
      each nested table reports its own cells under its own index;
    - a table's rows are the ``tr`` elements reached from it without
      crossing another ``table`` (i.e. direct children or through
      row groups ``thead``/``tbody``/``tfoot``), in document order;
    - a row's cells are its ``td``/``th`` element children in order
      (positional ``col_idx`` — span attributes don't shift indices);
    - ``cell_text`` is the cell's textContent EXCLUDING nested table
      subtrees, so no character is attributed to two tables.

    This is the tables→training-rows step of a web-corpus pipeline
    (WDC-style web-table corpus construction); the reference exposes
    the same information via its DOM (serializer walks these nodes —
    /root/reference/lib/Serializer.php), we surface it columnar."""
    tables: list[Element] = []
    stack: list = [doc]
    while stack:
        n = stack.pop()
        if type(n) is Element:
            if n.namespace == HTML_NS and n.name == "table":
                tables.append(n)
            stack.extend(reversed(n.children))
        elif isinstance(n, (Document, DocumentFragment)):
            stack.extend(reversed(n.children))
    out: list[tuple] = []
    for t_idx, table in enumerate(tables):
        r_idx = 0
        tstack: list = list(reversed(table.children))
        while tstack:
            n = tstack.pop()
            if type(n) is not Element or n.namespace != HTML_NS:
                continue
            if n.name == "table":
                continue  # nested table: its own index reports it
            if n.name == "tr":
                c_idx = 0
                for cell in n.children:
                    if (type(cell) is Element
                            and cell.namespace == HTML_NS
                            and cell.name in ("td", "th")):
                        out.append((t_idx, r_idx, c_idx,
                                    cell.name == "th",
                                    _cell_text(cell)))
                        c_idx += 1
                r_idx += 1
                continue
            tstack.extend(reversed(n.children))
        # r_idx counts this table's rows even when rows have no cells
    return out


def _cell_text(cell: Element) -> str:
    """textContent of a table cell minus any nested-table subtree."""
    parts: list[str] = []
    stack: list = list(reversed(cell.children))
    while stack:
        n = stack.pop()
        t = type(n)
        if t is Text:
            parts.append(n.data)
        elif t is Element:
            if n.namespace == HTML_NS and n.name == "table":
                continue
            stack.extend(reversed(n.children))
        elif isinstance(n, (Document, DocumentFragment)):
            stack.extend(reversed(n.children))
    return "".join(parts)
