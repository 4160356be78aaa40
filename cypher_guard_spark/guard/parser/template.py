"""Recognizer for the MERGE batches ``pipeline.codegen`` renders.

Codegen emits newline-joined statements of exactly two shapes, with one
space wherever the layout has whitespace:

    MERGE (v:L {k: '…'[, k: '…']})
    MERGE (v:L {k: '…'[, k: '…']})-[:T]->(v:L {k: '…'[, k: '…']})

``parse_codegen_merge`` proves a whole batch is in that family with one
precompiled regex per line and builds the AST the full parser would, or
returns None so the caller runs the full parser. It never mixes the two
within a batch. Why a match implies the full parser's AST
(``docs/PERFORMANCE.md`` §26):

- identifiers are ``\\w+`` on a str pattern without ``re.ASCII``; CPython's
  Unicode ``\\w`` is ``isalnum() or '_'``, exactly ``utils.identifier``;
- literals are ``'[^'()\\n]*'``: the full parser's literal ends at the next
  quote, but its QPP detection (``patterns.pattern_element_sequence``)
  counts parens inside literals, so a literal with a paren can turn a node
  into a quantified-path attempt (``{k: 'x)+'}``) and must fall back;
- each line starts with ``MERGE``, a clause boundary, so every pattern loop
  stops at the line end, and MERGE → MERGE is a valid clause order.
"""

from __future__ import annotations

import re

from ..ast import (
    RIGHT,
    MatchElement,
    MergeClause,
    NodePattern,
    Property,
    PropertyValue,
    Query,
    RelationshipDetails,
    RelationshipPattern,
)

_LITERAL = r"'([^'()\n]*)'"
_NODE = rf"\((\w+):(\w+) \{{(\w+): {_LITERAL}(?:, (\w+): {_LITERAL})?\}}\)"
_STATEMENT = re.compile(rf"MERGE {_NODE}(?:-\[:(\w+)\]->{_NODE})?")


def _node(variable, label, k1, v1, k2, v2) -> NodePattern:
    properties = [Property(k1, PropertyValue("string", v1))]
    if k2 is not None:
        properties.append(Property(k2, PropertyValue("string", v2)))
    return NodePattern(variable, label, properties)


def parse_codegen_merge(s: str):
    """The Query for a batch of codegen-rendered MERGEs, or None when any
    line is outside that grammar."""
    merges = []
    for line in s.split("\n"):
        m = _STATEMENT.fullmatch(line)
        if m is None:
            return None
        g = m.groups()
        pattern = [_node(*g[:6])]
        if g[6] is not None:
            details = RelationshipDetails(direction=RIGHT, rel_type=g[6])
            pattern += (RelationshipPattern(details), _node(*g[7:]))
        merges.append(MergeClause([MatchElement(None, pattern)]))
    return Query(merge_clauses=merges)
