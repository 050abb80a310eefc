"""Pure-Python WHATWG HTML5 engine (no Spark imports).

Pipeline per document (mirrors the reference's five abstractions,
/root/reference/lib/Parser.php:85-142 — bytes → code points → tokens →
DOM → output):

    sniff_encoding(bytes)  -> (encoding, confidence)      # charset.py
    decode + normalize CR  -> str                         # charset.py
    Tokenizer(str)         -> token stream                # tokenizer.py
    TreeBuilder(tokens)    -> Document                    # treebuilder.py
    serialize(Document)    -> html str                    # serializer.py
    extract_text(Document) -> (text, spans)               # extractor.py

Use :func:`html_parser_spark.engine.parser.parse` for the one-call API
(and ``parse_fragment`` for innerHTML-style fragments). The reference's
``DOMParser``, ``Parser::parseInto`` and serializer options
(pretty-printer) are not reproduced, per SURVEY.md §2.1 and §2.8.
"""

from .parser import parse, parse_fragment, Output  # noqa: F401
from .serializer import serialize, serialize_inner  # noqa: F401
from .extractor import extract_text  # noqa: F401
