"""Fragment parsing (innerHTML semantics) as a first-class operator.

Reference surface: ``Parser::parseFragment``
(/root/reference/lib/Parser.php:61-72; fragment algorithm
TreeConstructor.php:278-323): parse a snippet in the context of a given
element (context-dependent initial tokenizer state, synthetic root,
insertion-mode reset). Runs on the shared row driver
(``operators/extract.py``), snippets as a string column.
"""

from __future__ import annotations

from ..engine import parse_fragment, serialize_inner
from ..engine.extractor import text_content
from .extract import _map_rows

FRAGMENT_SCHEMA = ("id long, text string, html string, ok boolean")


def parse_fragments(df, context: str = "div", id_col: str = "id",
                    snippet_col: str = "snippet"):
    """(id, snippet) -> (id, text, html, ok): fragment-parse each
    snippet in ``context``, return its textContent and normalized
    innerHTML serialization."""

    def per_row(row):
        frag = parse_fragment(row[1] if row[1] is not None else "", context)
        return [(text_content(frag), serialize_inner(frag), True)]

    return _map_rows(df.select(df[id_col].cast("long").alias("id"),
                               df[snippet_col].alias("snippet")),
                     FRAGMENT_SCHEMA, per_row, ("", "", False))
