"""WHATWG HTML5 tree construction (§13.2.6 of the public spec).

Capability parity with the reference's TreeConstructor
(/root/reference/lib/Parser/TreeConstructor.php, 21 insertion modes —
the modern spec without the removed "in select" modes), including the
adoption-agency algorithm, active-formatting-elements reconstruction with
the Noah's Ark clause, foster parenting, the in-table-text pending buffer,
template contents, and foreign (SVG/MathML) content rules.

The tree builder *pulls* tokens from the tokenizer generator, or reads
the data state's clean text and bare tags straight from the source in
``run``'s direct lane, and feeds state back through the four channels
catalogued in SURVEY.md §3.4:
tokenizer state switches for RCDATA/RAWTEXT/script/PLAINTEXT, the
``cdata_ok`` probe of the adjusted current node, the next-token LF-skip
for pre/listing/textarea (realized as an ignore-next-LF flag, which is
observationally equivalent to the reference's generator peek at
/root/reference/lib/Parser/TreeConstructor.php:514-524), and the
meta-charset encoding-change restart (raised as ``EncodingChangeRequired``).
"""

from __future__ import annotations

from . import tokenizer as tz
import re as _re
from weakref import ref

from .dom import (
    HTML_NS, MATHML_NS, SVG_NS, XLINK_NS, XMLNS_NS,
    LIMITED_QUIRKS, NO_QUIRKS, QUIRKS,
    Comment, Document, DocumentType, Element, ProcessingInstruction, Text,
    child_index,
)

# XML 1.0 5e Name production (BMP only — mirrors the reference's
# observable behavior, whose PHP DOM rejects astral PI targets and
# falls back to a comment; TreeConstructor.php:3811-3819), with the
# reserved 'xml' target excluded per the XML PITarget rule
_NAME_START = (
    ":A-Z_a-z\u00C0-\u00D6\u00D8-\u00F6\u00F8-\u02FF\u0370-\u037D"
    "\u037F-\u1FFF\u200C-\u200D\u2070-\u218F\u2C00-\u2FEF\u3001-\uD7FF"
    "\uF900-\uFDCF\uFDF0-\uFFFD")
_NAME_CHAR = _NAME_START + "\\-.0-9\u00B7\u0300-\u036F\u203F-\u2040"
_PI_RE = _re.compile(
    r"^\?(?![Xx][Mm][Ll](?:[ \t\r\n]|$))"
    rf"([{_NAME_START}][{_NAME_CHAR}]*)"
    r"(?:[ \t\r\n](.*))?$", _re.S)
from .charset import from_meta_content, label_to_encoding
from .tables import (
    BLOCK_END, BLOCK_START, BREAKOUT, FOREIGN_ATTR_ADJUST, FORMATTING,
    IMPLIED_END, IMPLIED_END_THOROUGH, LIMITED_QUIRKY_PREFIXES,
    MATHML_ATTR_ADJUST, QUIRKY_IF_NO_SYSTEM_PREFIXES, QUIRKY_PUBLIC_IDS,
    QUIRKY_PUBLIC_PREFIXES, QUIRKY_SYSTEM_ID, SCOPE_BUTTON, SCOPE_DEFAULT,
    SCOPE_LIST_ITEM, SCOPE_TABLE, SVG_ATTR_ADJUST, SVG_TAG_ADJUST,
    is_special,
)

# insertion modes (parity: /root/reference/lib/Parser/TreeConstructor.php:61-81)
INITIAL = 0
BEFORE_HTML = 1
BEFORE_HEAD = 2
IN_HEAD = 3
IN_HEAD_NOSCRIPT = 4
AFTER_HEAD = 5
IN_BODY = 6
TEXT = 7
IN_TABLE = 8
IN_TABLE_TEXT = 9
IN_CAPTION = 10
IN_COLUMN_GROUP = 11
IN_TABLE_BODY = 12
IN_ROW = 13
IN_CELL = 14
IN_TEMPLATE = 15
AFTER_BODY = 16
IN_FRAMESET = 17
AFTER_FRAMESET = 18
AFTER_AFTER_BODY = 19
AFTER_AFTER_FRAMESET = 20

_WS = "\t\n\f "
# frameset-ok check: a C-level search allocates nothing, unlike
# data.strip(_WS) which builds a stripped copy per text token
_NONWS_RE = _re.compile(r"[^\t\n\f ]")
# formatting START tags (FORMATTING minus the two with dedicated
# branches: <a> runs the duplicate-AFE check, <nobr> the in-scope
# implied close) — derived, so a tables.FORMATTING edit cannot drift
_INLINE_FORMATTING = FORMATTING - frozenset(("a", "nobr"))
# start tags TreeBuilder.run inserts itself: True for a block container
# (closes an open <p>), False for inline formatting (joins the AFE)
_LANE_START = {**dict.fromkeys(_INLINE_FORMATTING, False),
               **dict.fromkeys(BLOCK_START, True)}
# end tags TreeBuilder.run pops itself when they close the current node:
# for a current node of their own name, mode_in_body's rule for each is
# exactly one pop (implied end tags stop at that node, no error fires)
_LANE_END = BLOCK_END | frozenset(
    ("p", "li", "dd", "dt", "h1", "h2", "h3", "h4", "h5", "h6"))
MARKER = object()  # active-formatting-elements marker sentinel

CHARS, NULLS, START, END, COMMENT, DOCTYPE, EOF = (
    tz.CHARS, tz.NULLS, tz.START, tz.END, tz.COMMENT, tz.DOCTYPE, tz.EOF)


class EncodingChangeRequired(Exception):
    """Raised when a <meta charset> requires re-decoding the input
    (parity: /root/reference/lib/Parser/EncodingChangeException.php:10)."""

    def __init__(self, encoding: str) -> None:
        super().__init__(encoding)
        self.encoding = encoding


class _AFEEntry:
    __slots__ = ("element", "name", "attrs")

    def __init__(self, element: Element, name: str, attrs: dict) -> None:
        self.element = element
        self.name = name
        self.attrs = attrs


_list_append = list.append
_list_pop = list.pop


class ElementStack(list):
    """Stack of open elements + an exact per-tag-name count of the
    HTML-namespace elements currently on it, maintained across every
    mutation the tree builder performs (append/pop/insert/remove/
    del-slice/index-assign), and each element's ``on_stack`` count.

    The name count powers an O(1) "definitely not on the stack" fast
    path in the scope checks. Without it every ``has X in scope`` walk
    is O(depth), which makes parsing *quadratic* in nesting depth — an
    adversarial 100k-deep crawl document becomes a multi-second
    straggler (9.7 s measured at depth 20k before this class; linear
    after). Browsers bound the same cost with a hard DOM-depth cap;
    keeping the walk but short-circuiting it preserves exact WHATWG
    semantics at any depth. ``on_stack`` does the same for element
    membership (``el in stack``): active-formatting reconstruction
    asks it on every text token, and a scan from the stack's bottom
    made ``"<b><div>x" * n`` quadratic (147 s at 576 KB)."""

    __slots__ = ("counts",)

    def __init__(self, it=()):
        super().__init__(it)
        self.counts: dict[str, int] = {}
        for el in self:
            self._inc(el)

    def _inc(self, el):
        el.on_stack += 1
        if el.namespace == HTML_NS:
            c = self.counts
            c[el.name] = c.get(el.name, 0) + 1

    def _dec(self, el):
        el.on_stack -= 1
        if el.namespace == HTML_NS:
            c = self.counts
            n = c[el.name] - 1
            if n:
                c[el.name] = n
            else:
                del c[el.name]

    def append(self, el, _append=list.append):
        # hot path (once per inserted element): counting inlined
        _append(self, el)
        el.on_stack += 1
        if el.namespace == HTML_NS:
            c = self.counts
            n = el.name
            c[n] = c.get(n, 0) + 1

    def pop(self, i=-1, _pop=list.pop):
        el = _pop(self, i)
        el.on_stack -= 1
        if el.namespace == HTML_NS:
            c = self.counts
            k = el.name
            n = c[k] - 1
            if n:
                c[k] = n
            else:
                del c[k]
        return el

    def insert(self, i, el):
        super().insert(i, el)
        self._inc(el)

    def remove(self, el):
        super().remove(el)
        self._dec(el)

    def __setitem__(self, i, v):
        if isinstance(i, slice):
            raise TypeError("slice assignment not supported")
        self._dec(list.__getitem__(self, i))
        list.__setitem__(self, i, v)
        self._inc(v)

    def __delitem__(self, i):
        if isinstance(i, slice):
            for el in list.__getitem__(self, i):
                self._dec(el)
        else:
            self._dec(list.__getitem__(self, i))
        list.__delitem__(self, i)


class TreeBuilder:
    def __init__(self, tokenizer: tz.Tokenizer, scripting: bool = False,
                 fragment_context: Element | None = None,
                 meta_encoding_hook=None,
                 processing_instructions: bool = False) -> None:
        self.processing_instructions = processing_instructions
        self.tokenizer = tokenizer
        self.scripting = scripting
        self.doc = Document()
        self.stack: ElementStack = ElementStack()
        self.afe: list = []
        self.head: Element | None = None
        self.form: Element | None = None
        self.frameset_ok = True
        self.foster = False
        self.mode = INITIAL
        self.original_mode = INITIAL
        self.template_modes: list[int] = []
        self.pending_table_text: list[str] = []
        self._pending_text_at: int | None = None
        self.ignore_lf = False
        # self-closing-flag acknowledgment (WHATWG §13.2.6.4; reference
        # ParseError.php non-void-html-element-start-tag-with-trailing-
        # solidus): set by void/foreign insertions, checked after each
        # START-token dispatch in process()
        self.ack_self_closing = False
        self.errors: list[str] = []
        # debug/conformance mode only (tokenizer track_positions=True):
        # per-error character offsets, same gating as the tokenizer's
        self.error_offsets: list[int] | None = (
            [] if tokenizer is not None and tokenizer.offsets is not None
            else None)
        self.fragment_context = fragment_context
        self.iframe_srcdoc = False
        self.done = False
        self.n_tokens = 0    # tokenizer counter (north-star metrics)
        self.n_elements = 0  # tree-builder counter
        tokenizer.cdata_ok = self._cdata_ok
        self.meta_encoding_hook = meta_encoding_hook

    # ------------------------------------------------------------------ #
    # driving
    # ------------------------------------------------------------------ #

    def run(self) -> Document:
        if self.fragment_context is not None:
            self._setup_fragment()
        tokenizer = self.tokenizer
        src = tokenizer.s
        src_len = tokenizer.n
        data_chunk = tz._DATA_CHUNK.match
        data_state = tz.DATA
        lower_get = tz._LOWER_CACHE.get  # cleared, never rebound
        process = self.process  # bind once: ~145k lookups per MB saved
        stack = self.stack
        counts = stack.counts
        afe = self.afe
        no_context = self.fragment_context is None
        tag_kinds = (START, END)
        # in-body fast lane: the dominant token shapes of a page body,
        # handled here instead of through process → mode_in_body →
        # _in_body_start → insert_start_tag → insert_element →
        # create_element. It applies exactly where process would pick
        # mode_in_body's HTML rules with no LF skip pending, no foster
        # parenting and no template contents as the insertion target;
        # each branch does what that path does for its token. Every
        # other token goes through process, the one general path, and
        # only process changes the mode and the two flags of ``lane``.
        lane = (self.mode == IN_BODY and not self.ignore_lf
                and not self.foster)
        # enumerate counts the generator's tokens in C; ``direct``
        # counts those read straight from the source (below)
        n = direct = 0
        tag = None  # a bare tag read behind a direct text piece
        tag_end = 0
        try:
            for n, token in enumerate(tokenizer.tokenize(), 1):
                while True:
                    kind = token[0]
                    if lane and stack:
                        cur = stack[-1]
                        if (cur.namespace == HTML_NS
                                and cur.name != "template"
                                and (no_context or len(stack) > 1)):
                            if kind == CHARS:
                                data = token[1]
                                if "\x00" not in data:
                                    if afe:
                                        self.reconstruct_afe()
                                        cur = stack[-1]
                                    children = cur.children
                                    if (children
                                            and type(children[-1]) is Text):
                                        children[-1].data += data
                                    else:
                                        t = Text(data)
                                        t._parent = ref(cur)
                                        children.append(t)
                                    if (self.frameset_ok
                                            and _NONWS_RE.search(data)
                                            is not None):
                                        self.frameset_ok = False
                                    token = None
                            elif kind == START:
                                name = token[1]
                                block = _LANE_START.get(name)
                                # a self-closing tag goes to process,
                                # which acknowledges it
                                if block is not None and not token[3]:
                                    if block:
                                        if ("p" in counts and self._in_scope(
                                                "p", SCOPE_BUTTON)):
                                            self.close_p()
                                            cur = stack[-1]
                                            if (cur.name == "template"
                                                    and cur.namespace == HTML_NS
                                                    and cur.content is not None):
                                                cur = cur.content
                                    elif afe:
                                        self.reconstruct_afe()
                                        cur = stack[-1]
                                    attrs = token[2]
                                    el = Element(name, HTML_NS, attrs)
                                    el._parent = ref(cur)
                                    cur.children.append(el)
                                    _list_append(stack, el)
                                    el.on_stack = 1
                                    counts[name] = counts.get(name, 0) + 1
                                    self.n_elements += 1
                                    if not block:
                                        self.push_afe(el, name, attrs)
                                    token = None
                            elif kind == END:
                                name = token[1]
                                if name == cur.name and (
                                        name in _LANE_END or (
                                            name in FORMATTING and afe
                                            and afe[-1] is not MARKER
                                            and afe[-1].element is cur)):
                                    _list_pop(stack)
                                    cur.on_stack -= 1
                                    k = counts[name] - 1
                                    if k:
                                        counts[name] = k
                                    else:
                                        del counts[name]
                                    if name in FORMATTING:
                                        afe.pop()
                                    token = None
                    if token is not None:
                        # EOF is the one token that ends the parse, and
                        # the generator ends after it
                        process(token)
                        lane = (self.mode == IN_BODY and not self.ignore_lf
                                and not self.foster)
                    # Direct lane. After a START or END token the
                    # generator is paused where resuming re-reads
                    # tokenizer.pos and .state, so while the state is
                    # DATA the next clean text piece and bare tag are
                    # read here with the generator's own match and
                    # bookkeeping: the same tokens, pos (at the '<'
                    # while the text is processed, which tree errors
                    # read) and last_start_tag. A text piece followed
                    # by '&', NUL or EOF is left to the generator, so a
                    # CHARS token that spans a character reference stays
                    # one token; so is any '<' that is not a bare tag,
                    # once the text before it is consumed.
                    if tag is not None:
                        token, tag = tag, None
                        tokenizer.pos = tag_end
                        continue
                    if kind not in tag_kinds or tokenizer.state != data_state:
                        break
                    pos = tokenizer.pos
                    m = data_chunk(src, pos)
                    piece, slash, raw = m.groups()
                    if raw is None:
                        if not piece:
                            break
                        pos += len(piece)
                        if pos >= src_len or src[pos] != "<":
                            break
                        token = (CHARS, piece)
                        tokenizer.pos = pos
                        direct += 1
                        continue
                    name = lower_get(raw) or tz._lower(raw)
                    if slash:
                        tag = (END, name)
                    else:
                        tokenizer.last_start_tag = name
                        tag = (START, name, {}, False)
                    if piece:
                        token = (CHARS, piece)
                        tokenizer.pos = pos + len(piece)
                        tag_end = m.end()
                        direct += 2
                    else:
                        token, tag = tag, None
                        tokenizer.pos = m.end()
                        direct += 1
        finally:
            # the bound _cdata_ok is the tokenizer's one reference back
            # to this builder: dropping it leaves the parse's objects
            # without a reference cycle, so they are freed as soon as
            # the caller drops them
            tokenizer.cdata_ok = tz.no_cdata
        self.n_tokens = n + direct
        return self.doc

    def _setup_fragment(self) -> None:
        ctx = self.fragment_context
        name = ctx.name if ctx.namespace == HTML_NS else None
        t = self.tokenizer
        if name in ("title", "textarea"):
            t.state = tz.RCDATA
        elif name in {"style", "xmp", "iframe", "noembed", "noframes"}:
            t.state = tz.RAWTEXT
        elif name == "script":
            t.state = tz.SCRIPT_DATA
        elif name == "noscript" and self.scripting:
            t.state = tz.RAWTEXT
        elif name == "plaintext":
            t.state = tz.PLAINTEXT
        t.last_start_tag = ctx.name
        root = self.create_element("html", {}, HTML_NS)
        self.doc.append(root)
        self.stack.append(root)
        if name == "template":
            self.template_modes.append(IN_TEMPLATE)
        self.reset_insertion_mode()
        node = ctx
        while node is not None:
            if isinstance(node, Element) and node.name == "form" and node.namespace == HTML_NS:
                self.form = node
                break
            node = node.parent

    def error(self, code: str, at: int | None = None) -> None:
        self.errors.append(code)
        if self.error_offsets is not None:
            # tree errors point at the last input character consumed
            # when the error fired — the reference's whereIs(0)
            # convention (ParseErrorEmitter.php:68: the Data pointer,
            # which sits on the final char of the triggering token).
            # Sites where the triggering token is no longer current
            # (the in-table-text pending buffer) pass ``at`` explicitly.
            if at is None:
                at = max(self.tokenizer.pos - 1, 0)
            self.error_offsets.append(at)

    def error_positions(self) -> list[tuple[str, int, int]]:
        """[(code, line, col)], 1-based, for tree-construction errors.
        Only valid in the debug/conformance mode (the tokenizer was
        built with track_positions=True)."""
        return tz.positions_from_offsets(
            self.tokenizer.s, self.errors, self.error_offsets)

    def _cdata_ok(self) -> bool:
        acn = self.adjusted_current_node()
        return acn is not None and acn.namespace != HTML_NS

    # ------------------------------------------------------------------ #
    # stack / scope helpers
    # ------------------------------------------------------------------ #

    @property
    def current(self) -> Element | None:
        return self.stack[-1] if self.stack else None

    def adjusted_current_node(self) -> Element | None:
        if self.fragment_context is not None and len(self.stack) == 1:
            return self.fragment_context
        return self.current

    def _in_scope(self, target, scope=SCOPE_DEFAULT) -> bool:
        """target: tag name (HTML ns) or Element identity."""
        if type(target) is str:  # type test hoisted out of the walk
            if target not in self.stack.counts:
                return False  # not on the stack at all => not in scope
            for node in reversed(self.stack):
                if node.name == target and node.namespace == HTML_NS:
                    return True
                if node.skey in scope:
                    return False
            return False
        for node in reversed(self.stack):
            if node is target:
                return True
            if node.skey in scope:
                return False
        return False

    def in_scope(self, name) -> bool:
        return self._in_scope(name, SCOPE_DEFAULT)

    def in_button_scope(self, name) -> bool:
        return self._in_scope(name, SCOPE_BUTTON)

    def in_list_item_scope(self, name) -> bool:
        return self._in_scope(name, SCOPE_LIST_ITEM)

    def in_table_scope(self, name) -> bool:
        return self._in_scope(name, SCOPE_TABLE)

    def any_in_scope(self, names, scope=SCOPE_DEFAULT) -> bool:
        counts = self.stack.counts
        if not any(n in counts for n in names):
            return False
        for node in reversed(self.stack):
            if node.namespace == HTML_NS and node.name in names:
                return True
            if node.skey in scope:
                return False
        return False

    def pop_until(self, *names) -> Element:
        while self.stack:
            node = self.stack.pop()
            if node.namespace == HTML_NS and node.name in names:
                return node
        raise AssertionError(f"pop_until missed {names}")

    def find_on_stack(self, name: str) -> int:
        for i in range(len(self.stack) - 1, -1, -1):
            node = self.stack[i]
            if node.namespace == HTML_NS and node.name == name:
                return i
        return -1

    def generate_implied_end_tags(self, exclude: str | None = None) -> None:
        while self.stack:
            node = self.stack[-1]
            if (node.namespace == HTML_NS and node.name in IMPLIED_END
                    and node.name != exclude):
                self.stack.pop()
            else:
                return

    def generate_implied_end_tags_thoroughly(self) -> None:
        while self.stack:
            node = self.stack[-1]
            if node.namespace == HTML_NS and node.name in IMPLIED_END_THOROUGH:
                self.stack.pop()
            else:
                return

    def clear_to_table_context(self) -> None:
        while self.stack:
            node = self.stack[-1]
            if node.namespace == HTML_NS and node.name in ("table", "template", "html"):
                return
            self.stack.pop()

    def clear_to_table_body_context(self) -> None:
        while self.stack:
            node = self.stack[-1]
            if node.namespace == HTML_NS and node.name in {
                    "tbody", "tfoot", "thead", "template", "html"}:
                return
            self.stack.pop()

    def clear_to_table_row_context(self) -> None:
        while self.stack:
            node = self.stack[-1]
            if node.namespace == HTML_NS and node.name in ("tr", "template", "html"):
                return
            self.stack.pop()

    def reset_insertion_mode(self) -> None:
        for i in range(len(self.stack) - 1, -1, -1):
            node = self.stack[i]
            last = i == 0
            if last and self.fragment_context is not None:
                node = self.fragment_context
            if node.namespace == HTML_NS:
                name = node.name
                if name in ("td", "th") and not last:
                    self.mode = IN_CELL
                    return
                if name == "tr":
                    self.mode = IN_ROW
                    return
                if name in ("tbody", "thead", "tfoot"):
                    self.mode = IN_TABLE_BODY
                    return
                if name == "caption":
                    self.mode = IN_CAPTION
                    return
                if name == "colgroup":
                    self.mode = IN_COLUMN_GROUP
                    return
                if name == "table":
                    self.mode = IN_TABLE
                    return
                if name == "template":
                    self.mode = self.template_modes[-1]
                    return
                if name == "head" and not last:
                    self.mode = IN_HEAD
                    return
                if name == "body":
                    self.mode = IN_BODY
                    return
                if name == "frameset":
                    self.mode = IN_FRAMESET
                    return
                if name == "html":
                    self.mode = BEFORE_HEAD if self.head is None else AFTER_HEAD
                    return
            if last:
                self.mode = IN_BODY
                return

    # ------------------------------------------------------------------ #
    # insertion (appropriate place, foster parenting, text coalescing)
    # ------------------------------------------------------------------ #

    def appropriate_place(self, override: Element | None = None):
        """Returns (parent, before) — insert before `before` (None=append).
        Parity: /root/reference/lib/Parser/TreeConstructor.php:3666-3750."""
        target = override if override is not None else self.current
        if (self.foster and target is not None and target.namespace == HTML_NS
                and target.name in {"table", "tbody", "tfoot", "thead", "tr"}):
            last_template_i = last_table_i = -1
            for i in range(len(self.stack) - 1, -1, -1):
                node = self.stack[i]
                if node.namespace == HTML_NS:
                    if node.name == "template" and last_template_i == -1:
                        last_template_i = i
                    elif node.name == "table" and last_table_i == -1:
                        last_table_i = i
                if last_template_i != -1 and last_table_i != -1:
                    break
            if last_template_i != -1 and (last_table_i == -1 or last_template_i > last_table_i):
                parent, before = self.stack[last_template_i].content, None
            elif last_table_i == -1:
                parent, before = self.stack[0], None
            else:
                table = self.stack[last_table_i]
                parent = table.parent
                if parent is not None:
                    before = table
                else:
                    parent, before = self.stack[last_table_i - 1], None
        else:
            parent, before = target, None
        if (isinstance(parent, Element) and parent.namespace == HTML_NS
                and parent.name == "template" and parent.content is not None):
            parent, before = parent.content, None
        return parent, before

    def insert_text(self, data: str, override: Element | None = None) -> None:
        # fast path: no foster parenting pending (the overwhelming case)
        if not self.foster and override is None:
            parent = self.stack[-1] if self.stack else None
            if parent is None:
                return
            # name test first: "template" is rare, namespace is almost
            # always HTML_NS — the cheap-to-fail comparison leads
            if (parent.name == "template" and parent.namespace == HTML_NS
                    and parent.content is not None):
                parent = parent.content
            children = parent.children
            prev = children[-1] if children else None
            if type(prev) is Text:
                prev.data += data
            else:
                # inlined append: a fresh Text never has a parent, so
                # the generic reparent check is dead weight here
                t = Text(data)
                t._parent = ref(parent)
                children.append(t)
            return
        parent, before = self.appropriate_place(override)
        if isinstance(parent, Document):
            return  # text is never inserted into the document itself
        children = parent.children
        if before is None:
            prev = children[-1] if children else None
        else:
            idx = child_index(children, before)
            prev = children[idx - 1] if idx > 0 else None
        if isinstance(prev, Text):
            # coalescing matters for byte-identical extraction
            # (parity: TreeConstructor.php:3771-3777)
            prev.data += data
        else:
            parent.insert_before(Text(data), before)

    def insert_comment(self, token, parent=None) -> None:
        """Insert a comment token — or, when the non-standard
        ``processing_instructions`` option is on (reference
        Config.php + TreeConstructor.php:3808-3822), a real PI node for
        ``<?target data>``-shaped bogus comments whose target is a
        valid XML Name (sans the 'xml' reserved target)."""
        data = token[1]
        node = None
        if (self.processing_instructions and len(token) > 2 and token[2]):
            m = _PI_RE.match(data)
            if m is not None:
                node = ProcessingInstruction(m.group(1), m.group(2) or "")
        if node is None:
            node = Comment(data)
        if parent is not None:
            parent.append(node)
            return
        p, before = self.appropriate_place()
        p.insert_before(node, before)

    def create_element(self, name: str, attrs: dict, namespace: str = HTML_NS) -> Element:
        self.n_elements += 1
        return Element(name, namespace, attrs)

    def insert_element(self, name: str, attrs: dict, namespace: str = HTML_NS,
                       push: bool = True) -> Element:
        el = self.create_element(name, attrs, namespace)
        if not self.foster:  # fast path mirrors insert_text's
            parent = self.stack[-1] if self.stack else self.doc
            if (isinstance(parent, Element) and parent.namespace == HTML_NS
                    and parent.name == "template"
                    and parent.content is not None):
                parent = parent.content
            parent.append(el)
        else:
            parent, before = self.appropriate_place()
            parent.insert_before(el, before)
        if push:
            self.stack.append(el)
        return el

    def insert_start_tag(self, token, push: bool = True) -> Element:
        if not push:
            # push=False is exactly the void/self-contained-element
            # shape: the spec acknowledges the self-closing flag there
            self.ack_self_closing = True
        return self.insert_element(token[1], token[2], HTML_NS, push)

    # ------------------------------------------------------------------ #
    # active formatting elements
    # (parity: /root/reference/lib/Parser/ActiveFormattingElementsList.php)
    # ------------------------------------------------------------------ #

    def push_afe(self, element: Element, name: str, attrs: dict) -> None:
        # Noah's Ark clause: at most 3 identical entries since the last marker
        matches = []
        for i in range(len(self.afe) - 1, -1, -1):
            entry = self.afe[i]
            if entry is MARKER:
                break
            if (entry.name == name and entry.element.namespace == HTML_NS
                    and entry.attrs == attrs):
                matches.append(i)
        if len(matches) >= 3:
            del self.afe[matches[-1]]
        self.afe.append(_AFEEntry(element, name, attrs))

    def afe_index_of(self, element: Element) -> int:
        for i, entry in enumerate(self.afe):
            if entry is not MARKER and entry.element is element:
                return i
        return -1

    def clear_afe_to_marker(self) -> None:
        while self.afe:
            entry = self.afe.pop()
            if entry is MARKER:
                return

    def reconstruct_afe(self) -> None:
        if not self.afe:
            return
        entry = self.afe[-1]
        if entry is MARKER or entry.element.on_stack:
            return
        i = len(self.afe) - 1
        while True:
            if i == 0:
                i -= 1
                break
            i -= 1
            entry = self.afe[i]
            if entry is MARKER or entry.element.on_stack:
                break
        while True:
            i += 1
            entry = self.afe[i]
            new_el = self.insert_element(entry.name, dict(entry.attrs))
            self.afe[i] = _AFEEntry(new_el, entry.name, entry.attrs)
            if i == len(self.afe) - 1:
                return

    # ------------------------------------------------------------------ #
    # adoption agency (parity: TreeConstructor.php:3460-3664)
    # ------------------------------------------------------------------ #

    def adoption_agency(self, subject: str) -> None:
        cur = self.current
        if (cur is not None and cur.namespace == HTML_NS and cur.name == subject
                and self.afe_index_of(cur) == -1):
            self.stack.pop()
            return
        for _outer in range(8):
            # locate the formatting element
            fmt_entry = None
            fmt_i = -1
            for i in range(len(self.afe) - 1, -1, -1):
                entry = self.afe[i]
                if entry is MARKER:
                    break
                if entry.name == subject:
                    fmt_entry = entry
                    fmt_i = i
                    break
            if fmt_entry is None:
                self._any_other_end_tag(subject)
                return
            fmt = fmt_entry.element
            if fmt is self.current:
                # properly-nested common case: fmt is the current node,
                # so it is on the stack, trivially in scope, and nothing
                # sits above it (no furthest block) — the general steps
                # below reduce to pop + AFE-remove with no error
                self.stack.pop()
                del self.afe[fmt_i]
                return
            if not fmt.on_stack:
                self.error("adoption-agency-1.2")
                del self.afe[fmt_i]
                return
            if not self._in_scope(fmt, SCOPE_DEFAULT):
                self.error("adoption-agency-4.4")
                return
            # unconditional here: the fmt-is-current (no-error) case
            # already returned through the fast path above
            self.error("adoption-agency-1.3")
            stack_i = self.stack.index(fmt)
            furthest = None
            furthest_i = -1
            for i in range(stack_i + 1, len(self.stack)):
                if is_special(self.stack[i]):
                    furthest = self.stack[i]
                    furthest_i = i
                    break
            if furthest is None:
                del self.stack[stack_i:]
                del self.afe[fmt_i]
                return
            common_ancestor = self.stack[stack_i - 1]
            bookmark = fmt_i
            node = last_node = furthest
            node_i = furthest_i
            inner = 0
            while True:
                inner += 1
                node_i -= 1
                node = self.stack[node_i]
                if node is fmt:
                    break
                node_afe_i = self.afe_index_of(node)
                if inner > 3 and node_afe_i != -1:
                    del self.afe[node_afe_i]
                    if node_afe_i < bookmark:
                        bookmark -= 1
                    node_afe_i = -1
                if node_afe_i == -1:
                    # next iteration's node_i -= 1 lands on the element that
                    # was immediately above the removed node
                    self.stack.remove(node)
                    continue
                entry = self.afe[node_afe_i]
                clone = self.create_element(entry.name, dict(entry.attrs))
                self.afe[node_afe_i] = _AFEEntry(clone, entry.name, entry.attrs)
                self.stack[self.stack.index(node)] = clone
                node = clone
                if last_node is furthest:
                    bookmark = node_afe_i + 1
                node.append(last_node)
                last_node = node
                node_i = self.stack.index(node)
            # detached before the appropriate place is found: last_node
            # may be the table that foster parenting looks up
            parent = last_node.parent
            if parent is not None:
                parent.remove(last_node)
            parent, before = self.appropriate_place(common_ancestor)
            parent.insert_before(last_node, before)
            clone = self.create_element(fmt_entry.name, dict(fmt_entry.attrs))
            # all of furthest's children move in one step: one at a time
            # from the front made an adoption over k children O(k^2)
            clone.children, furthest.children = furthest.children, []
            clone_ref = ref(clone)
            for child in clone.children:
                child._parent = clone_ref
            furthest.append(clone)
            fmt_i = self.afe_index_of(fmt)
            if fmt_i != -1:
                del self.afe[fmt_i]
                if fmt_i < bookmark:
                    bookmark -= 1
            self.afe.insert(bookmark, _AFEEntry(clone, fmt_entry.name, fmt_entry.attrs))
            self.stack.remove(fmt)
            self.stack.insert(self.stack.index(furthest) + 1, clone)

    def _any_other_end_tag(self, name: str) -> None:
        # no open HTML element of that name: the walk below would end
        # at the first special element (at worst the ``html`` root)
        # with this one error, after a scan of the whole stack
        if name not in self.stack.counts:
            self.error("unexpected-end-tag")
            return
        for i in range(len(self.stack) - 1, -1, -1):
            node = self.stack[i]
            if node.namespace == HTML_NS and node.name == name:
                self.generate_implied_end_tags(exclude=name)
                if self.current is not node:
                    self.error("unexpected-end-tag")
                while True:
                    popped = self.stack.pop()
                    if popped is node:
                        return
            if is_special(node):
                self.error("unexpected-end-tag")
                return

    # ------------------------------------------------------------------ #
    # dispatch
    # ------------------------------------------------------------------ #

    def process(self, token) -> None:
        kind = token[0]
        if self.ignore_lf:
            self.ignore_lf = False
            if kind == CHARS and token[1].startswith("\n"):
                data = token[1][1:]
                if not data:
                    return
                token = (CHARS, data)
        check_ack = kind == START and token[3]
        if check_ack:
            self.ack_self_closing = False
        guard = 0
        stack = self.stack
        while True:
            guard += 1
            if guard > 100:
                raise AssertionError("token reprocess loop did not converge")
            # fast path: current node is an HTML element and no fragment
            # context override applies → HTML rules, skip foreign checks
            if (stack and stack[-1].namespace == HTML_NS
                    and (self.fragment_context is None or len(stack) > 1)):
                again = _MODE_HANDLERS[self.mode](self, token)
            else:
                acn = self.adjusted_current_node()
                kind = token[0]
                if (acn is None or acn.namespace == HTML_NS or kind == EOF
                        or self._foreign_takes_html_rules(acn, token)):
                    again = _MODE_HANDLERS[self.mode](self, token)
                else:
                    again = self._process_foreign(token)
            if again is None:
                break
            token = again
        if check_ack and not self.ack_self_closing:
            self.error(
                "non-void-html-element-start-tag-with-trailing-solidus")

    def _foreign_takes_html_rules(self, acn: Element, token) -> bool:
        kind = token[0]
        if self._is_mathml_text_ip(acn):
            if kind == START and token[1] not in ("mglyph", "malignmark"):
                return True
            if kind in (CHARS, NULLS):
                return True
        if (acn.namespace == MATHML_NS and acn.name == "annotation-xml"
                and kind == START and token[1] == "svg"):
            return True
        if self._is_html_ip(acn):
            if kind == START or kind in (CHARS, NULLS):
                return True
        return False

    @staticmethod
    def _is_mathml_text_ip(el: Element) -> bool:
        return el.namespace == MATHML_NS and el.name in {"mi", "mo", "mn", "ms", "mtext"}

    @staticmethod
    def _is_html_ip(el: Element) -> bool:
        if el.namespace == SVG_NS and el.name in ("foreignObject", "desc", "title"):
            return True
        if el.namespace == MATHML_NS and el.name == "annotation-xml":
            enc = el.attrs.get("encoding", "").lower()
            return enc in ("text/html", "application/xhtml+xml")
        return False

    def _process_html(self, token):
        return _MODE_HANDLERS[self.mode](self, token)

    def stop_parsing(self) -> None:
        del self.stack[:]
        self.done = True

    # ------------------------------------------------------------------ #
    # mode handlers — each returns None (done) or a token to reprocess
    # ------------------------------------------------------------------ #

    def mode_initial(self, token):
        kind = token[0]
        if kind == CHARS:
            data = token[1].lstrip(_WS)
            if not data:
                return None
            token = (CHARS, data)
        elif kind == COMMENT:
            self.insert_comment(token, self.doc)
            return None
        elif kind == DOCTYPE:
            _, name, public, system, force_quirks = token
            if (name != "html" or public is not None
                    or (system is not None and system != "about:legacy-compat")):
                self.error("unexpected-doctype")
            dt = DocumentType(name or "", public or "", system or "")
            self.doc.append(dt)
            self.doc.doctype = dt
            self.doc.quirks_mode = self._quirks_mode(name, public, system, force_quirks)
            self.mode = BEFORE_HTML
            return None
        if not self.iframe_srcdoc:
            # reference/html5lib code split (ParseError.php:63-66)
            if kind == EOF:
                self.error("expected-doctype-but-got-eof")
            elif kind == START:
                self.error("expected-doctype-but-got-start-tag")
            elif kind == END:
                self.error("expected-doctype-but-got-end-tag")
            else:
                self.error("expected-doctype-but-got-chars")
            self.doc.quirks_mode = QUIRKS
        self.mode = BEFORE_HTML
        return token

    def _quirks_mode(self, name, public, system, force_quirks) -> int:
        if force_quirks or name != "html":
            return QUIRKS
        pl = public.lower() if public is not None else None
        sl = system.lower() if system is not None else None
        if pl is not None:
            if pl in QUIRKY_PUBLIC_IDS or pl.startswith(QUIRKY_PUBLIC_PREFIXES):
                return QUIRKS
            if system is None and pl.startswith(QUIRKY_IF_NO_SYSTEM_PREFIXES):
                return QUIRKS
        if sl == QUIRKY_SYSTEM_ID:
            return QUIRKS
        if pl is not None:
            if pl.startswith(LIMITED_QUIRKY_PREFIXES):
                return LIMITED_QUIRKS
            if system is not None and pl.startswith(QUIRKY_IF_NO_SYSTEM_PREFIXES):
                return LIMITED_QUIRKS
        return NO_QUIRKS

    def mode_before_html(self, token):
        kind = token[0]
        if kind == DOCTYPE:
            self.error("unexpected-doctype")
            return None
        if kind == COMMENT:
            self.insert_comment(token, self.doc)
            return None
        if kind == CHARS:
            data = token[1].lstrip(_WS)
            if not data:
                return None
            token = (CHARS, data)
        elif kind == START and token[1] == "html":
            el = self.create_element("html", token[2])
            self.doc.append(el)
            self.stack.append(el)
            self.mode = BEFORE_HEAD
            return None
        elif kind == END and token[1] not in ("head", "body", "html", "br"):
            self.error("unexpected-end-tag")
            return None
        el = self.create_element("html", {})
        self.doc.append(el)
        self.stack.append(el)
        self.mode = BEFORE_HEAD
        return token

    def mode_before_head(self, token):
        kind = token[0]
        if kind == CHARS:
            data = token[1].lstrip(_WS)
            if not data:
                return None
            token = (CHARS, data)
        elif kind == COMMENT:
            self.insert_comment(token)
            return None
        elif kind == DOCTYPE:
            self.error("unexpected-doctype")
            return None
        elif kind == START:
            if token[1] == "html":
                return self.mode_in_body(token)
            if token[1] == "head":
                self.head = self.insert_start_tag(token)
                self.mode = IN_HEAD
                return None
        elif kind == END and token[1] not in ("head", "body", "html", "br"):
            self.error("unexpected-end-tag")
            return None
        self.head = self.insert_element("head", {})
        self.mode = IN_HEAD
        return token

    def mode_in_head(self, token):
        kind = token[0]
        if kind == CHARS:
            data = token[1]
            ws_len = len(data) - len(data.lstrip(_WS))
            if ws_len:
                self.insert_text(data[:ws_len])
            if ws_len == len(data):
                return None
            token = (CHARS, data[ws_len:])
        elif kind == COMMENT:
            self.insert_comment(token)
            return None
        elif kind == DOCTYPE:
            self.error("unexpected-doctype")
            return None
        elif kind == START:
            name = token[1]
            if name == "html":
                return self.mode_in_body(token)
            if name in ("base", "basefont", "bgsound", "link"):
                self.insert_start_tag(token, push=False)
                return None
            if name == "meta":
                self.insert_start_tag(token, push=False)
                self._handle_meta_charset(token[2])
                return None
            if name == "title":
                self._generic_rcdata(token)
                return None
            if (name == "noscript" and not self.scripting) or name in ("noframes", "style"):
                if name == "noscript":
                    self.insert_start_tag(token)
                    self.mode = IN_HEAD_NOSCRIPT
                    return None
                self._generic_rawtext(token)
                return None
            if name == "noscript":  # scripting enabled
                self._generic_rawtext(token)
                return None
            if name == "script":
                parent, before = self.appropriate_place()
                el = self.create_element("script", token[2])
                parent.insert_before(el, before)
                self.stack.append(el)
                self.tokenizer.state = tz.SCRIPT_DATA
                self.original_mode = self.mode
                self.mode = TEXT
                return None
            if name == "template":
                self.insert_start_tag(token)
                self.afe.append(MARKER)
                self.frameset_ok = False
                self.mode = IN_TEMPLATE
                self.template_modes.append(IN_TEMPLATE)
                return None
            if name == "head":
                self.error("unexpected-start-tag")
                return None
        else:  # END
            name = token[1] if kind == END else None
            if kind == END:
                if name == "head":
                    self.stack.pop()
                    self.mode = AFTER_HEAD
                    return None
                if name == "template":
                    if self.find_on_stack("template") == -1:
                        self.error("unexpected-end-tag")
                        return None
                    self.generate_implied_end_tags_thoroughly()
                    if not (self.current.namespace == HTML_NS
                            and self.current.name == "template"):
                        self.error("unexpected-end-tag")
                    self.pop_until("template")
                    self.clear_afe_to_marker()
                    if self.template_modes:
                        self.template_modes.pop()
                    self.reset_insertion_mode()
                    return None
                if name not in ("body", "html", "br"):
                    self.error("unexpected-end-tag")
                    return None
        self.stack.pop()
        self.mode = AFTER_HEAD
        return token

    def _handle_meta_charset(self, attrs: dict) -> None:
        """Encoding-change hook (parity: TreeConstructor.php:1686-1692)."""
        if self.meta_encoding_hook is None:
            return
        enc = None
        if "charset" in attrs:
            enc = label_to_encoding(attrs["charset"])
        elif attrs.get("http-equiv", "").lower() == "content-type" and "content" in attrs:
            enc = from_meta_content(attrs["content"])
        if enc is not None:
            self.meta_encoding_hook(enc)

    def _generic_rcdata(self, token) -> None:
        self.insert_start_tag(token)
        self.tokenizer.state = tz.RCDATA
        self.original_mode = self.mode
        self.mode = TEXT
        if token[1] == "textarea":
            self.ignore_lf = True
            self.frameset_ok = False

    def _generic_rawtext(self, token) -> None:
        self.insert_start_tag(token)
        self.tokenizer.state = tz.RAWTEXT
        self.original_mode = self.mode
        self.mode = TEXT

    def mode_in_head_noscript(self, token):
        kind = token[0]
        if kind == DOCTYPE:
            self.error("unexpected-doctype")
            return None
        if kind == START:
            name = token[1]
            if name == "html":
                return self.mode_in_body(token)
            if name in {"basefont", "bgsound", "link", "meta", "noframes", "style"}:
                return self.mode_in_head(token)
            if name in ("head", "noscript"):
                self.error("unexpected-start-tag")
                return None
        elif kind == END:
            if token[1] == "noscript":
                self.stack.pop()
                self.mode = IN_HEAD
                return None
            if token[1] != "br":
                self.error("unexpected-end-tag")
                return None
        elif kind == CHARS:
            data = token[1]
            ws_len = len(data) - len(data.lstrip(_WS))
            if ws_len:
                self.insert_text(data[:ws_len])
            if ws_len == len(data):
                return None
            token = (CHARS, data[ws_len:])
        elif kind == COMMENT:
            return self.mode_in_head(token)
        self.error("unexpected-token-in-head-noscript")
        self.stack.pop()
        self.mode = IN_HEAD
        return token

    def mode_after_head(self, token):
        kind = token[0]
        if kind == CHARS:
            data = token[1]
            ws_len = len(data) - len(data.lstrip(_WS))
            if ws_len:
                self.insert_text(data[:ws_len])
            if ws_len == len(data):
                return None
            token = (CHARS, data[ws_len:])
        elif kind == COMMENT:
            self.insert_comment(token)
            return None
        elif kind == DOCTYPE:
            self.error("unexpected-doctype")
            return None
        elif kind == START:
            name = token[1]
            if name == "html":
                return self.mode_in_body(token)
            if name == "body":
                self.insert_start_tag(token)
                self.frameset_ok = False
                self.mode = IN_BODY
                return None
            if name == "frameset":
                self.insert_start_tag(token)
                self.mode = IN_FRAMESET
                return None
            if name in {"base", "basefont", "bgsound", "link", "meta", "noframes",
                        "script", "style", "template", "title"}:
                self.error("unexpected-start-tag-out-of-head")
                self.stack.append(self.head)
                result = self.mode_in_head(token)
                if self.head.on_stack:
                    self.stack.remove(self.head)
                return result
            if name == "head":
                self.error("unexpected-start-tag")
                return None
        elif kind == END:
            if token[1] == "template":
                return self.mode_in_head(token)
            if token[1] not in ("body", "html", "br"):
                self.error("unexpected-end-tag")
                return None
        self.insert_element("body", {})
        self.mode = IN_BODY
        return token

    # ------------------------------------------------------------------ #
    # in body
    # ------------------------------------------------------------------ #

    def mode_in_body(self, token):
        kind = token[0]
        if kind == CHARS:
            data = token[1]
            if "\x00" in data:
                self.error("unexpected-null-character")
                data = data.replace("\x00", "")
                if not data:
                    return None
            self.reconstruct_afe()
            self.insert_text(data)
            if self.frameset_ok and _NONWS_RE.search(data) is not None:
                self.frameset_ok = False
            return None
        if kind == NULLS:
            self.error("unexpected-null-character")
            return None
        if kind == COMMENT:
            self.insert_comment(token)
            return None
        if kind == DOCTYPE:
            self.error("unexpected-doctype")
            return None
        if kind == START:
            return self._in_body_start(token)
        if kind == END:
            return self._in_body_end(token)
        # EOF
        if self.template_modes:
            return self.mode_in_template(token)
        self.stop_parsing()
        return None

    def _in_body_start(self, token):
        name = token[1]
        attrs = token[2]
        # hot path first: block containers and inline formatting are
        # ~97% of start tags on text-heavy pages; every name check in
        # this chain is exclusive, so ordering is semantically free
        if name in BLOCK_START:
            if self.in_button_scope("p"):
                self.close_p()
            self.insert_start_tag(token)
            return None
        if name in _INLINE_FORMATTING:
            self.reconstruct_afe()
            el = self.insert_start_tag(token)
            self.push_afe(el, name, attrs)
            return None
        if name == "html":
            self.error("unexpected-start-tag")
            if self.find_on_stack("template") == -1 and self.stack:
                top = self.stack[0]
                for k, v in attrs.items():
                    if k not in top.attrs:
                        top.attrs[k] = v
            return None
        if name in {"base", "basefont", "bgsound", "link", "meta", "noframes",
                    "script", "style", "template", "title"}:
            return self.mode_in_head(token)
        if name == "body":
            self.error("unexpected-start-tag")
            if (len(self.stack) > 1 and self.stack[1].name == "body"
                    and self.stack[1].namespace == HTML_NS
                    and self.find_on_stack("template") == -1):
                self.frameset_ok = False
                body = self.stack[1]
                for k, v in attrs.items():
                    if k not in body.attrs:
                        body.attrs[k] = v
            return None
        if name == "frameset":
            self.error("unexpected-start-tag")
            if (len(self.stack) > 1 and self.stack[1].name == "body"
                    and self.stack[1].namespace == HTML_NS and self.frameset_ok):
                second = self.stack[1]
                parent = second.parent
                if parent is not None:
                    parent.remove(second)
                del self.stack[1:]
                self.insert_start_tag(token)
                self.mode = IN_FRAMESET
            return None
        if name in {"h1", "h2", "h3", "h4", "h5", "h6"}:
            if self.in_button_scope("p"):
                self.close_p()
            cur = self.current
            if (cur.namespace == HTML_NS
                    and cur.name in {"h1", "h2", "h3", "h4", "h5", "h6"}):
                self.error("unexpected-start-tag")
                self.stack.pop()
            self.insert_start_tag(token)
            return None
        if name in ("pre", "listing"):
            if self.in_button_scope("p"):
                self.close_p()
            self.insert_start_tag(token)
            self.ignore_lf = True
            self.frameset_ok = False
            return None
        if name == "form":
            if self.form is not None and self.find_on_stack("template") == -1:
                self.error("unexpected-start-tag")
                return None
            if self.in_button_scope("p"):
                self.close_p()
            el = self.insert_start_tag(token)
            if self.find_on_stack("template") == -1:
                self.form = el
            return None
        if name == "li":
            self.frameset_ok = False
            for i in range(len(self.stack) - 1, -1, -1):
                node = self.stack[i]
                if node.namespace == HTML_NS and node.name == "li":
                    self.generate_implied_end_tags(exclude="li")
                    if not (self.current.namespace == HTML_NS and self.current.name == "li"):
                        self.error("unexpected-start-tag-implies-end-tag")
                    self.pop_until("li")
                    break
                if is_special(node) and not (
                        node.namespace == HTML_NS and node.name in ("address", "div", "p")):
                    break
            if self.in_button_scope("p"):
                self.close_p()
            self.insert_start_tag(token)
            return None
        if name in ("dd", "dt"):
            self.frameset_ok = False
            for i in range(len(self.stack) - 1, -1, -1):
                node = self.stack[i]
                if node.namespace == HTML_NS and node.name in ("dd", "dt"):
                    self.generate_implied_end_tags(exclude=node.name)
                    if not (self.current.namespace == HTML_NS
                            and self.current.name == node.name):
                        self.error("unexpected-start-tag-implies-end-tag")
                    self.pop_until(node.name)
                    break
                if is_special(node) and not (
                        node.namespace == HTML_NS and node.name in ("address", "div", "p")):
                    break
            if self.in_button_scope("p"):
                self.close_p()
            self.insert_start_tag(token)
            return None
        if name == "plaintext":
            if self.in_button_scope("p"):
                self.close_p()
            self.insert_start_tag(token)
            self.tokenizer.state = tz.PLAINTEXT
            return None
        if name == "button":
            if self.in_scope("button"):
                self.error("unexpected-start-tag-implies-end-tag")
                self.generate_implied_end_tags()
                self.pop_until("button")
            self.reconstruct_afe()
            self.insert_start_tag(token)
            self.frameset_ok = False
            return None
        if name == "a":
            for i in range(len(self.afe) - 1, -1, -1):
                entry = self.afe[i]
                if entry is MARKER:
                    break
                if entry.name == "a":
                    self.error("unexpected-start-tag-implies-end-tag")
                    element = entry.element
                    self.adoption_agency("a")
                    idx = self.afe_index_of(element)
                    if idx != -1:
                        del self.afe[idx]
                    if element.on_stack:
                        self.stack.remove(element)
                    break
            self.reconstruct_afe()
            el = self.insert_start_tag(token)
            self.push_afe(el, name, attrs)
            return None
        if name == "nobr":
            self.reconstruct_afe()
            if self.in_scope("nobr"):
                self.error("unexpected-start-tag-implies-end-tag")
                self.adoption_agency("nobr")
                self.reconstruct_afe()
            el = self.insert_start_tag(token)
            self.push_afe(el, name, attrs)
            return None
        if name in ("applet", "marquee", "object"):
            self.reconstruct_afe()
            self.insert_start_tag(token)
            self.afe.append(MARKER)
            self.frameset_ok = False
            return None
        if name == "table":
            if self.doc.quirks_mode != QUIRKS and self.in_button_scope("p"):
                self.close_p()
            self.insert_start_tag(token)
            self.frameset_ok = False
            self.mode = IN_TABLE
            return None
        if name in {"area", "br", "embed", "img", "keygen", "wbr"}:
            self.reconstruct_afe()
            self.insert_start_tag(token, push=False)
            self.frameset_ok = False
            return None
        if name == "input":
            if (self.fragment_context is not None
                    and self.fragment_context.name == "select"):
                self.error("unexpected-start-tag")
                return None
            if self.in_scope("select"):
                self.error("unexpected-start-tag")
                self.pop_until("select")
            self.reconstruct_afe()
            self.insert_start_tag(token, push=False)
            if attrs.get("type", "").lower() != "hidden":
                self.frameset_ok = False
            return None
        if name in ("param", "source", "track"):
            self.insert_start_tag(token, push=False)
            return None
        if name == "hr":
            if self.in_button_scope("p"):
                self.close_p()
            if self.in_scope("select"):
                self.generate_implied_end_tags()
                if self.in_scope("option") or self.in_scope("optgroup"):
                    self.error("unexpected-start-tag")
            self.insert_start_tag(token, push=False)
            self.frameset_ok = False
            return None
        if name == "image":
            self.error("image-start-tag")
            return (START, "img", attrs, token[3])
        if name == "textarea":
            self._generic_rcdata(token)
            return None
        if name == "xmp":
            if self.in_button_scope("p"):
                self.close_p()
            self.reconstruct_afe()
            self.frameset_ok = False
            self._generic_rawtext(token)
            return None
        if name == "iframe":
            self.frameset_ok = False
            self._generic_rawtext(token)
            return None
        if name == "noembed" or (name == "noscript" and self.scripting):
            self._generic_rawtext(token)
            return None
        if name == "select":
            if (self.fragment_context is not None
                    and self.fragment_context.name == "select"):
                self.error("unexpected-start-tag")
            elif self.in_scope("select"):
                self.error("unexpected-start-tag")
                self.pop_until("select")
            else:
                self.reconstruct_afe()
                self.insert_start_tag(token)
                self.frameset_ok = False
            return None
        if name == "option":
            if self.in_scope("select"):
                self.generate_implied_end_tags(exclude="optgroup")
                if self.in_scope("option"):
                    self.error("unexpected-start-tag")
            elif (self.current.namespace == HTML_NS and self.current.name == "option"):
                self.stack.pop()
            self.reconstruct_afe()
            self.insert_start_tag(token)
            return None
        if name == "optgroup":
            if self.in_scope("select"):
                self.generate_implied_end_tags()
                if self.in_scope("option") or self.in_scope("optgroup"):
                    self.error("unexpected-start-tag")
            elif (self.current.namespace == HTML_NS and self.current.name == "option"):
                self.stack.pop()
            self.reconstruct_afe()
            self.insert_start_tag(token)
            return None
        if name in ("rb", "rtc"):
            if self.in_scope("ruby"):
                self.generate_implied_end_tags()
                if not (self.current.namespace == HTML_NS and self.current.name == "ruby"):
                    self.error("unexpected-start-tag")
            self.insert_start_tag(token)
            return None
        if name in ("rp", "rt"):
            if self.in_scope("ruby"):
                self.generate_implied_end_tags(exclude="rtc")
                if not (self.current.namespace == HTML_NS
                        and self.current.name in ("ruby", "rtc")):
                    self.error("unexpected-start-tag")
            self.insert_start_tag(token)
            return None
        if name == "math":
            self.reconstruct_afe()
            adjusted = _adjust_foreign_attrs(attrs, MATHML_ATTR_ADJUST)
            self.ack_self_closing = True
            self._insert_foreign(name, adjusted, MATHML_NS, token[3])
            return None
        if name == "svg":
            self.reconstruct_afe()
            adjusted = _adjust_foreign_attrs(attrs, SVG_ATTR_ADJUST)
            self.ack_self_closing = True
            self._insert_foreign(name, adjusted, SVG_NS, token[3])
            return None
        if name in {"caption", "col", "colgroup", "frame", "head",
                    "tbody", "td", "tfoot", "th", "thead", "tr"}:
            self.error("unexpected-start-tag-ignored")
            return None
        # any other start tag
        self.reconstruct_afe()
        self.insert_start_tag(token)
        return None

    def _insert_foreign(self, name: str, attrs: dict, namespace: str,
                        self_closing: bool) -> Element:
        # xmlns sanity (parity /root/reference/lib/Parser/
        # TreeConstructor.php:4040-4046): the spec flags an xmlns
        # attribute whose value contradicts the element's namespace (or
        # an xmlns:xlink that isn't the XLink namespace) as a parse
        # error but is silent on disposition; like the reference we
        # drop them (they'd corrupt a namespace-aware DOM)
        for k in list(attrs):
            if isinstance(k, tuple) and k[2] == XMLNS_NS:
                if k[1] == "xmlns" and attrs[k] != namespace:
                    self.error("invalid-namespace-attribute-value")
                    del attrs[k]
                elif k[1] == "xlink" and attrs[k] != XLINK_NS:
                    self.error("invalid-namespace-attribute-value")
                    del attrs[k]
        el = self.create_element(name, attrs, namespace)
        parent, before = self.appropriate_place()
        parent.insert_before(el, before)
        if not self_closing:
            self.stack.append(el)
        return el

    def close_p(self) -> None:
        # fast path: the current node already IS the <p> (the dominant
        # case — <p>text<p> chains). Then implied-end-tags pops nothing
        # (p is the excluded name), the error check passes, and
        # pop_until pops exactly one element.
        stack = self.stack
        cur = stack[-1] if stack else None
        if cur is not None and cur.name == "p" and cur.namespace == HTML_NS:
            stack.pop()
            return
        self.generate_implied_end_tags(exclude="p")
        if not (self.current.namespace == HTML_NS and self.current.name == "p"):
            self.error("unexpected-implied-end-tag")
        self.pop_until("p")

    def _in_body_end(self, token):
        name = token[1]
        # hot path first (checks exclusive on name, order free): </p>
        # and the formatting closers dominate text-heavy pages
        if name == "p":
            if not self.in_button_scope("p"):
                self.error("unexpected-end-tag")
                self.insert_element("p", {})
            self.close_p()
            return None
        if name in FORMATTING:
            self.adoption_agency(name)
            return None
        if name == "template":
            return self.mode_in_head(token)
        if name in ("body", "html"):
            if not self.in_scope("body"):
                self.error("unexpected-end-tag")
                return None
            for node in self.stack:
                if not (node.namespace == HTML_NS and node.name in {
                        "dd", "dt", "li", "optgroup", "option", "p", "rb", "rp",
                        "rt", "rtc", "tbody", "td", "tfoot", "th", "thead", "tr",
                        "body", "html"}):
                    self.error("expected-closing-tag-but-got-end-tag")
                    break
            self.mode = AFTER_BODY
            if name == "html":
                return token
            return None
        if name in BLOCK_END:
            if not self.in_scope(name):
                self.error("unexpected-end-tag")
                return None
            self.generate_implied_end_tags()
            if not (self.current.namespace == HTML_NS and self.current.name == name):
                self.error("unexpected-end-tag")
            self.pop_until(name)
            return None
        if name == "form":
            if self.find_on_stack("template") == -1:
                node = self.form
                self.form = None
                if node is None or not self._in_scope(node, SCOPE_DEFAULT):
                    self.error("unexpected-end-tag")
                    return None
                self.generate_implied_end_tags()
                if self.current is not node:
                    self.error("unexpected-end-tag")
                self.stack.remove(node)
            else:
                if not self.in_scope("form"):
                    self.error("unexpected-end-tag")
                    return None
                self.generate_implied_end_tags()
                if not (self.current.namespace == HTML_NS and self.current.name == "form"):
                    self.error("unexpected-end-tag")
                self.pop_until("form")
            return None
        if name == "li":
            if not self.in_list_item_scope("li"):
                self.error("unexpected-end-tag")
                return None
            self.generate_implied_end_tags(exclude="li")
            if not (self.current.namespace == HTML_NS and self.current.name == "li"):
                self.error("unexpected-end-tag")
            self.pop_until("li")
            return None
        if name in ("dd", "dt"):
            if not self.in_scope(name):
                self.error("unexpected-end-tag")
                return None
            self.generate_implied_end_tags(exclude=name)
            if not (self.current.namespace == HTML_NS and self.current.name == name):
                self.error("unexpected-end-tag")
            self.pop_until(name)
            return None
        if name in {"h1", "h2", "h3", "h4", "h5", "h6"}:
            if not self.any_in_scope(("h1", "h2", "h3", "h4", "h5", "h6")):
                self.error("unexpected-end-tag")
                return None
            self.generate_implied_end_tags()
            if not (self.current.namespace == HTML_NS and self.current.name == name):
                self.error("unexpected-end-tag")
            self.pop_until("h1", "h2", "h3", "h4", "h5", "h6")
            return None
        if name in ("applet", "marquee", "object"):
            if not self.in_scope(name):
                self.error("unexpected-end-tag")
                return None
            self.generate_implied_end_tags()
            if not (self.current.namespace == HTML_NS and self.current.name == name):
                self.error("unexpected-end-tag")
            self.pop_until(name)
            self.clear_afe_to_marker()
            return None
        if name == "br":
            self.error("unexpected-end-tag-treated-as-br")
            self.reconstruct_afe()
            self.insert_element("br", {}, push=False)
            self.frameset_ok = False
            return None
        self._any_other_end_tag(name)
        return None

    # ------------------------------------------------------------------ #
    # text mode
    # ------------------------------------------------------------------ #

    def mode_text(self, token):
        kind = token[0]
        if kind == CHARS:
            self.insert_text(token[1])
            return None
        if kind == NULLS:
            # cannot occur (RCDATA/RAWTEXT/script replace NUL), kept for safety
            self.insert_text("�" * token[1])
            return None
        if kind == EOF:
            self.error("expected-named-closing-tag-but-got-eof")
            self.stack.pop()
            self.mode = self.original_mode
            return token
        # END (any)
        self.stack.pop()
        self.mode = self.original_mode
        return None

    # ------------------------------------------------------------------ #
    # table modes
    # ------------------------------------------------------------------ #

    def mode_in_table(self, token):
        kind = token[0]
        cur = self.current
        if kind in (CHARS, NULLS) and cur is not None and cur.namespace == HTML_NS \
                and cur.name in {"table", "tbody", "template", "tfoot", "thead", "tr"}:
            self.pending_table_text = []
            self._pending_text_at = None
            self.original_mode = self.mode
            self.mode = IN_TABLE_TEXT
            return token
        if kind == COMMENT:
            self.insert_comment(token)
            return None
        if kind == DOCTYPE:
            self.error("unexpected-doctype")
            return None
        if kind == START:
            name = token[1]
            if name == "caption":
                self.clear_to_table_context()
                self.afe.append(MARKER)
                self.insert_start_tag(token)
                self.mode = IN_CAPTION
                return None
            if name == "colgroup":
                self.clear_to_table_context()
                self.insert_start_tag(token)
                self.mode = IN_COLUMN_GROUP
                return None
            if name == "col":
                self.clear_to_table_context()
                self.insert_element("colgroup", {})
                self.mode = IN_COLUMN_GROUP
                return token
            if name in ("tbody", "tfoot", "thead"):
                self.clear_to_table_context()
                self.insert_start_tag(token)
                self.mode = IN_TABLE_BODY
                return None
            if name in ("td", "th", "tr"):
                self.clear_to_table_context()
                self.insert_element("tbody", {})
                self.mode = IN_TABLE_BODY
                return token
            if name == "table":
                self.error("unexpected-start-tag-implies-end-tag")
                if not self.in_table_scope("table"):
                    return None
                self.pop_until("table")
                self.reset_insertion_mode()
                return token
            if name in ("style", "script", "template"):
                return self.mode_in_head(token)
            if name == "input":
                if token[2].get("type", "").lower() != "hidden":
                    pass  # fall through to anything-else
                else:
                    self.error("unexpected-hidden-input-in-table")
                    self.insert_start_tag(token, push=False)
                    return None
            if name == "form":
                self.error("unexpected-form-in-table")
                if self.find_on_stack("template") == -1 and self.form is None:
                    el = self.insert_start_tag(token)
                    self.form = el
                    self.stack.pop()
                return None
        elif kind == END:
            name = token[1]
            if name == "table":
                if not self.in_table_scope("table"):
                    self.error("unexpected-end-tag")
                    return None
                self.pop_until("table")
                self.reset_insertion_mode()
                return None
            if name in {"body", "caption", "col", "colgroup", "html",
                        "tbody", "td", "tfoot", "th", "thead", "tr"}:
                self.error("unexpected-end-tag")
                return None
            if name == "template":
                return self.mode_in_head(token)
        elif kind == EOF:
            return self.mode_in_body(token)
        # anything else: foster-parented in-body processing (error code
        # granularity per reference ParseError.php fostered-*)
        self.error("fostered-start-tag" if kind == START
                   else "fostered-end-tag" if kind == END
                   else "fostered-char")
        self.foster = True
        result = self.mode_in_body(token)
        self.foster = False
        return result

    def mode_in_table_text(self, token):
        kind = token[0]
        if kind == CHARS:
            data = token[1]
            if "\x00" in data:
                self.error("unexpected-null-character")
                data = data.replace("\x00", "")
            if data:
                if (self.error_offsets is not None
                        and self._pending_text_at is None
                        and data.strip(_WS)):
                    # first offending run: remember where it ended so a
                    # later fostered-char flush can point back at it
                    # (reference parity: pended characters report back
                    # into the stream — ParseErrorEmitter.php:30-31)
                    self._pending_text_at = self.tokenizer.pos - 1
                self.pending_table_text.append(data)
            return None
        if kind == NULLS:
            self.error("unexpected-null-character")
            return None
        # flush
        pending = "".join(self.pending_table_text)
        self.pending_table_text = []
        if pending:
            if pending.strip(_WS):
                # non-ws: reprocess via in-table anything-else (foster)
                self.error("fostered-char", at=self._pending_text_at)
                self.foster = True
                self.reconstruct_afe()
                self.insert_text(pending)
                if self.frameset_ok and pending.strip(_WS):
                    self.frameset_ok = False
                self.foster = False
            else:
                self.insert_text(pending)
        self.mode = self.original_mode
        return token

    def mode_in_caption(self, token):
        kind = token[0]
        name = token[1] if kind in (START, END) else None
        if kind == END and name == "caption":
            self._close_caption()
            return None
        if (kind == START and name in {"caption", "col", "colgroup", "tbody",
                                       "td", "tfoot", "th", "thead", "tr"}) or \
                (kind == END and name == "table"):
            if not self.in_table_scope("caption"):
                self.error("unexpected-token")
                return None
            self._close_caption()
            return token
        if kind == END and name in {"body", "col", "colgroup", "html",
                                    "tbody", "td", "tfoot", "th", "thead", "tr"}:
            self.error("unexpected-end-tag")
            return None
        return self.mode_in_body(token)

    def _close_caption(self) -> None:
        if not self.in_table_scope("caption"):
            self.error("unexpected-end-tag")
            return
        self.generate_implied_end_tags()
        if not (self.current.namespace == HTML_NS and self.current.name == "caption"):
            self.error("unexpected-end-tag")
        self.pop_until("caption")
        self.clear_afe_to_marker()
        self.mode = IN_TABLE

    def mode_in_column_group(self, token):
        kind = token[0]
        if kind == CHARS:
            data = token[1]
            ws_len = len(data) - len(data.lstrip(_WS))
            if ws_len:
                self.insert_text(data[:ws_len])
            if ws_len == len(data):
                return None
            token = (CHARS, data[ws_len:])
        elif kind == COMMENT:
            self.insert_comment(token)
            return None
        elif kind == DOCTYPE:
            self.error("unexpected-doctype")
            return None
        elif kind == START:
            name = token[1]
            if name == "html":
                return self.mode_in_body(token)
            if name == "col":
                self.insert_start_tag(token, push=False)
                return None
            if name == "template":
                return self.mode_in_head(token)
        elif kind == END:
            name = token[1]
            if name == "colgroup":
                if not (self.current.namespace == HTML_NS
                        and self.current.name == "colgroup"):
                    self.error("unexpected-end-tag")
                    return None
                self.stack.pop()
                self.mode = IN_TABLE
                return None
            if name == "col":
                self.error("unexpected-end-tag")
                return None
            if name == "template":
                return self.mode_in_head(token)
        elif kind == EOF:
            return self.mode_in_body(token)
        if not (self.current.namespace == HTML_NS and self.current.name == "colgroup"):
            self.error("unexpected-token")
            return None
        self.stack.pop()
        self.mode = IN_TABLE
        return token

    def mode_in_table_body(self, token):
        kind = token[0]
        name = token[1] if kind in (START, END) else None
        if kind == START:
            if name == "tr":
                self.clear_to_table_body_context()
                self.insert_start_tag(token)
                self.mode = IN_ROW
                return None
            if name in ("th", "td"):
                self.error("unexpected-cell-in-table-body")
                self.clear_to_table_body_context()
                self.insert_element("tr", {})
                self.mode = IN_ROW
                return token
            if name in {"caption", "col", "colgroup", "tbody", "tfoot", "thead"}:
                if not self.any_in_scope(("tbody", "thead", "tfoot"), SCOPE_TABLE):
                    self.error("unexpected-token")
                    return None
                self.clear_to_table_body_context()
                self.stack.pop()
                self.mode = IN_TABLE
                return token
        elif kind == END:
            if name in ("tbody", "tfoot", "thead"):
                if not self.in_table_scope(name):
                    self.error("unexpected-end-tag")
                    return None
                self.clear_to_table_body_context()
                self.stack.pop()
                self.mode = IN_TABLE
                return None
            if name == "table":
                if not self.any_in_scope(("tbody", "thead", "tfoot"), SCOPE_TABLE):
                    self.error("unexpected-end-tag")
                    return None
                self.clear_to_table_body_context()
                self.stack.pop()
                self.mode = IN_TABLE
                return token
            if name in {"body", "caption", "col", "colgroup", "html", "td", "th", "tr"}:
                self.error("unexpected-end-tag")
                return None
        return self.mode_in_table(token)

    def mode_in_row(self, token):
        kind = token[0]
        name = token[1] if kind in (START, END) else None
        if kind == START:
            if name in ("th", "td"):
                self.clear_to_table_row_context()
                self.insert_start_tag(token)
                self.mode = IN_CELL
                self.afe.append(MARKER)
                return None
            if name in {"caption", "col", "colgroup", "tbody", "tfoot", "thead", "tr"}:
                if not self.in_table_scope("tr"):
                    self.error("unexpected-token")
                    return None
                self.clear_to_table_row_context()
                self.stack.pop()
                self.mode = IN_TABLE_BODY
                return token
        elif kind == END:
            if name == "tr":
                if not self.in_table_scope("tr"):
                    self.error("unexpected-end-tag")
                    return None
                self.clear_to_table_row_context()
                self.stack.pop()
                self.mode = IN_TABLE_BODY
                return None
            if name == "table":
                if not self.in_table_scope("tr"):
                    self.error("unexpected-end-tag")
                    return None
                self.clear_to_table_row_context()
                self.stack.pop()
                self.mode = IN_TABLE_BODY
                return token
            if name in ("tbody", "tfoot", "thead"):
                if not self.in_table_scope(name):
                    self.error("unexpected-end-tag")
                    return None
                if not self.in_table_scope("tr"):
                    return None
                self.clear_to_table_row_context()
                self.stack.pop()
                self.mode = IN_TABLE_BODY
                return token
            if name in {"body", "caption", "col", "colgroup", "html", "td", "th"}:
                self.error("unexpected-end-tag")
                return None
        return self.mode_in_table(token)

    def mode_in_cell(self, token):
        kind = token[0]
        name = token[1] if kind in (START, END) else None
        if kind == END:
            if name in ("td", "th"):
                if not self.in_table_scope(name):
                    self.error("unexpected-end-tag")
                    return None
                self.generate_implied_end_tags()
                if not (self.current.namespace == HTML_NS and self.current.name == name):
                    self.error("unexpected-end-tag")
                self.pop_until(name)
                self.clear_afe_to_marker()
                self.mode = IN_ROW
                return None
            if name in {"body", "caption", "col", "colgroup", "html"}:
                self.error("unexpected-end-tag")
                return None
            if name in {"table", "tbody", "tfoot", "thead", "tr"}:
                if not self.in_table_scope(name):
                    self.error("unexpected-end-tag")
                    return None
                self._close_cell()
                return token
        elif kind == START and name in {"caption", "col", "colgroup", "tbody",
                                        "td", "tfoot", "th", "thead", "tr"}:
            if not (self.in_table_scope("td") or self.in_table_scope("th")):
                self.error("unexpected-start-tag")
                return None
            self._close_cell()
            return token
        return self.mode_in_body(token)

    def _close_cell(self) -> None:
        self.generate_implied_end_tags()
        cur = self.current
        if not (cur.namespace == HTML_NS and cur.name in ("td", "th")):
            self.error("unexpected-cell-end-tag")
        self.pop_until("td", "th")
        self.clear_afe_to_marker()
        self.mode = IN_ROW

    # ------------------------------------------------------------------ #
    # template mode
    # ------------------------------------------------------------------ #

    def mode_in_template(self, token):
        kind = token[0]
        if kind in (CHARS, NULLS, COMMENT, DOCTYPE):
            return self.mode_in_body(token)
        if kind == START:
            name = token[1]
            if name in {"base", "basefont", "bgsound", "link", "meta", "noframes",
                        "script", "style", "template", "title"}:
                return self.mode_in_head(token)
            if name in {"caption", "colgroup", "tbody", "tfoot", "thead"}:
                self.template_modes.pop()
                self.template_modes.append(IN_TABLE)
                self.mode = IN_TABLE
                return token
            if name == "col":
                self.template_modes.pop()
                self.template_modes.append(IN_COLUMN_GROUP)
                self.mode = IN_COLUMN_GROUP
                return token
            if name == "tr":
                self.template_modes.pop()
                self.template_modes.append(IN_TABLE_BODY)
                self.mode = IN_TABLE_BODY
                return token
            if name in ("td", "th"):
                self.template_modes.pop()
                self.template_modes.append(IN_ROW)
                self.mode = IN_ROW
                return token
            self.template_modes.pop()
            self.template_modes.append(IN_BODY)
            self.mode = IN_BODY
            return token
        if kind == END:
            if token[1] == "template":
                return self.mode_in_head(token)
            self.error("unexpected-end-tag")
            return None
        # EOF. The spec closes one template, resets the insertion mode
        # and reprocesses; while a template is still open, every mode
        # the reset can pick hands EOF straight back here without
        # touching the tree, so closing them all in one pass builds the
        # same tree and errors without one reprocess per open template
        # (which ``process`` caps).
        if self.find_on_stack("template") == -1:
            self.stop_parsing()
            return None
        while self.find_on_stack("template") != -1:
            self.error("eof-in-template")
            self.pop_until("template")
            self.clear_afe_to_marker()
            if self.template_modes:
                self.template_modes.pop()
        self.reset_insertion_mode()
        return token

    # ------------------------------------------------------------------ #
    # after body / frameset modes
    # ------------------------------------------------------------------ #

    def mode_after_body(self, token):
        kind = token[0]
        if kind == CHARS:
            data = token[1]
            if not data.strip(_WS):
                return self.mode_in_body(token)
            ws_len = len(data) - len(data.lstrip(_WS))
            if ws_len:
                self.mode_in_body((CHARS, data[:ws_len]))
            token = (CHARS, data[ws_len:])
        elif kind == COMMENT:
            self.insert_comment(token, self.stack[0])
            return None
        elif kind == DOCTYPE:
            self.error("unexpected-doctype")
            return None
        elif kind == START and token[1] == "html":
            return self.mode_in_body(token)
        elif kind == END and token[1] == "html":
            if self.fragment_context is not None:
                self.error("unexpected-end-tag")
                return None
            self.mode = AFTER_AFTER_BODY
            return None
        elif kind == EOF:
            self.stop_parsing()
            return None
        self.error("unexpected-token-after-body")
        self.mode = IN_BODY
        return token

    def mode_in_frameset(self, token):
        kind = token[0]
        if kind == CHARS:
            data = token[1]
            ws = "".join(c for c in data if c in _WS)
            if ws:
                self.insert_text(ws)
            if len(ws) != len(data):
                self.error("unexpected-char-in-frameset")
            return None
        if kind == COMMENT:
            self.insert_comment(token)
            return None
        if kind == DOCTYPE:
            self.error("unexpected-doctype")
            return None
        if kind == START:
            name = token[1]
            if name == "html":
                return self.mode_in_body(token)
            if name == "frameset":
                self.insert_start_tag(token)
                return None
            if name == "frame":
                self.insert_start_tag(token, push=False)
                return None
            if name == "noframes":
                return self.mode_in_head(token)
        elif kind == END:
            if token[1] == "frameset":
                if (self.current.namespace == HTML_NS and self.current.name == "html"
                        and len(self.stack) == 1):
                    self.error("unexpected-frameset-end")
                    return None
                self.stack.pop()
                if (self.fragment_context is None
                        and not (self.current.namespace == HTML_NS
                                 and self.current.name == "frameset")):
                    self.mode = AFTER_FRAMESET
                return None
        elif kind == EOF:
            if not (len(self.stack) == 1 and self.stack[0].name == "html"):
                self.error("eof-in-frameset")
            self.stop_parsing()
            return None
        self.error("unexpected-token-in-frameset")
        return None

    def mode_after_frameset(self, token):
        kind = token[0]
        if kind == CHARS:
            data = token[1]
            ws = "".join(c for c in data if c in _WS)
            if ws:
                self.insert_text(ws)
            if len(ws) != len(data):
                self.error("unexpected-char-after-frameset")
            return None
        if kind == COMMENT:
            self.insert_comment(token)
            return None
        if kind == DOCTYPE:
            self.error("unexpected-doctype")
            return None
        if kind == START:
            if token[1] == "html":
                return self.mode_in_body(token)
            if token[1] == "noframes":
                return self.mode_in_head(token)
        elif kind == END and token[1] == "html":
            self.mode = AFTER_AFTER_FRAMESET
            return None
        elif kind == EOF:
            self.stop_parsing()
            return None
        self.error("unexpected-token-after-frameset")
        return None

    def mode_after_after_body(self, token):
        kind = token[0]
        if kind == COMMENT:
            self.insert_comment(token, self.doc)
            return None
        if kind == DOCTYPE:
            return self.mode_in_body(token)
        if kind == CHARS:
            data = token[1]
            if not data.strip(_WS):
                return self.mode_in_body(token)
            ws_len = len(data) - len(data.lstrip(_WS))
            if ws_len:
                self.mode_in_body((CHARS, data[:ws_len]))
            token = (CHARS, data[ws_len:])
        elif kind == START and token[1] == "html":
            return self.mode_in_body(token)
        elif kind == EOF:
            self.stop_parsing()
            return None
        self.error("unexpected-token-after-after-body")
        self.mode = IN_BODY
        return token

    def mode_after_after_frameset(self, token):
        kind = token[0]
        if kind == COMMENT:
            self.insert_comment(token, self.doc)
            return None
        if kind == DOCTYPE:
            return self.mode_in_body(token)
        if kind == CHARS:
            data = token[1]
            ws = "".join(c for c in data if c in _WS)
            if ws:
                self.mode_in_body((CHARS, ws))
            if len(ws) != len(data):
                self.error("unexpected-char-after-after-frameset")
            return None
        if kind == START:
            if token[1] == "html":
                return self.mode_in_body(token)
            if token[1] == "noframes":
                return self.mode_in_head(token)
        elif kind == EOF:
            self.stop_parsing()
            return None
        self.error("unexpected-token-after-after-frameset")
        return None

    # ------------------------------------------------------------------ #
    # foreign content (parity: TreeConstructor.php:3250-3449)
    # ------------------------------------------------------------------ #

    def _process_foreign(self, token):
        kind = token[0]
        if kind == CHARS:
            data = token[1]
            self.insert_text(data)
            if self.frameset_ok and data.strip(_WS):
                self.frameset_ok = False
            return None
        if kind == NULLS:
            self.error("unexpected-null-character")
            self.insert_text("�" * token[1])
            return None
        if kind == COMMENT:
            self.insert_comment(token)
            return None
        if kind == DOCTYPE:
            self.error("unexpected-doctype")
            return None
        if kind == START:
            name, attrs, self_closing = token[1], token[2], token[3]
            if name in BREAKOUT or (
                    name == "font" and ("color" in attrs or "face" in attrs
                                        or "size" in attrs)):
                self.error("unexpected-html-element-in-foreign-content")
                while True:
                    cur = self.current
                    if (cur is None or cur.namespace == HTML_NS
                            or self._is_mathml_text_ip(cur) or self._is_html_ip(cur)):
                        break
                    self.stack.pop()
                # spec: reprocess "according to the ... current insertion
                # mode in HTML content" — route straight to the mode
                # handler, NOT back through the dispatcher: with a foreign
                # fragment context the dispatcher consults the context
                # element again (stack is just the root) and would loop
                # forever (the spec's "fragment case")
                return _MODE_HANDLERS[self.mode](self, token)
            acn = self.adjusted_current_node()
            ns = acn.namespace
            if ns == SVG_NS:
                name = SVG_TAG_ADJUST.get(name, name)
                attrs = _adjust_foreign_attrs(attrs, SVG_ATTR_ADJUST)
            elif ns == MATHML_NS:
                attrs = _adjust_foreign_attrs(attrs, MATHML_ATTR_ADJUST)
            else:
                attrs = _adjust_foreign_attrs(attrs, None)
            el = self._insert_foreign(name, attrs, ns, False)
            if self_closing:
                self.ack_self_closing = True
                self.stack.pop()
            return None
        if kind == END:
            name = token[1]
            cur = self.current
            if cur.namespace == SVG_NS and cur.name == "script" and name == "script":
                self.stack.pop()
                return None
            node_i = len(self.stack) - 1
            node = self.stack[node_i]
            if node.name.lower() != name:
                self.error("unexpected-end-tag")
            while True:
                if node_i == 0:
                    return None
                if node.name.lower() == name:
                    while True:
                        popped = self.stack.pop()
                        if popped is node:
                            return None
                node_i -= 1
                node = self.stack[node_i]
                if node.namespace == HTML_NS:
                    return self._process_html(token)
        return None


def _adjust_foreign_attrs(attrs: dict, case_map: dict | None) -> dict:
    out: dict = {}
    for k, v in attrs.items():
        if case_map is not None and k in case_map:
            k = case_map[k]
        if k in FOREIGN_ATTR_ADJUST:
            k = FOREIGN_ATTR_ADJUST[k]
        out[k] = v
    return out


_MODE_HANDLERS = {
    INITIAL: TreeBuilder.mode_initial,
    BEFORE_HTML: TreeBuilder.mode_before_html,
    BEFORE_HEAD: TreeBuilder.mode_before_head,
    IN_HEAD: TreeBuilder.mode_in_head,
    IN_HEAD_NOSCRIPT: TreeBuilder.mode_in_head_noscript,
    AFTER_HEAD: TreeBuilder.mode_after_head,
    IN_BODY: TreeBuilder.mode_in_body,
    TEXT: TreeBuilder.mode_text,
    IN_TABLE: TreeBuilder.mode_in_table,
    IN_TABLE_TEXT: TreeBuilder.mode_in_table_text,
    IN_CAPTION: TreeBuilder.mode_in_caption,
    IN_COLUMN_GROUP: TreeBuilder.mode_in_column_group,
    IN_TABLE_BODY: TreeBuilder.mode_in_table_body,
    IN_ROW: TreeBuilder.mode_in_row,
    IN_CELL: TreeBuilder.mode_in_cell,
    IN_TEMPLATE: TreeBuilder.mode_in_template,
    AFTER_BODY: TreeBuilder.mode_after_body,
    IN_FRAMESET: TreeBuilder.mode_in_frameset,
    AFTER_FRAMESET: TreeBuilder.mode_after_frameset,
    AFTER_AFTER_BODY: TreeBuilder.mode_after_after_body,
    AFTER_AFTER_FRAMESET: TreeBuilder.mode_after_after_frameset,
}
