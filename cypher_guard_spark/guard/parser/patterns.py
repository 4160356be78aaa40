"""Pattern parsers (rust/cypher_guard/src/parser/patterns.rs)."""

from __future__ import annotations

from ..ast import (
    LEFT,
    RIGHT,
    UNDIRECTED,
    MatchElement,
    NodePattern,
    QuantifiedPathPattern,
    RelationshipDetails,
    RelationshipPattern,
)
from .components import (
    length_range,
    property_map,
    relationship_type,
    variable_length_relationship,
)
from .utils import digit1, identifier, matching_paren, tag, ws0

# Clause-boundary keywords the pattern loop stops at (patterns.rs:159-175).
_BOUNDARIES = (
    "WHERE",
    "RETURN",
    "ON MATCH",
    "ON CREATE",
    "MATCH",
    "WITH",
    "UNWIND",
    "CALL",
    "CREATE",
    "DELETE",
    "DETACH DELETE",
    "REMOVE",
    "SET",
    "MERGE",
)

MAX_LOOPS = 100  # patterns.rs:144


def node_pattern(s: str, i: int):
    """(var? (:Label)? {props}?) — single optional label only (patterns.rs:19-36)."""
    j = tag(s, i, "(")
    if j is None:
        return None
    i = j
    variable = None
    r = identifier(s, i)
    if r is not None:
        i, variable = r
    label = None
    j = tag(s, i, ":")
    if j is not None:
        r = identifier(s, j)
        if r is not None:
            i, label = r
        # opt(preceded(':', identifier)): if identifier fails, the ':' is
        # not consumed (nom backtracks the whole preceded)
    i = ws0(s, i)
    properties = None
    r = property_map(s, i)
    if r is not None:
        i, properties = r
    j = tag(s, i, ")")
    if j is None:
        return None
    return (j, NodePattern(variable=variable, label=label, properties=properties))


def relationship_details(s: str, i: int):
    """[var? :TYPE(|T)* quant? {props}?] then optional {m,n} (patterns.rs:38-99)."""
    j = tag(s, i, "[")
    if j is None:
        return None
    i = j
    variable = None
    r = identifier(s, i)
    if r is not None:
        i, variable = r
    rel_type = None
    quant = None
    is_optional = False
    r = variable_length_relationship(s, i)
    if r is not None:
        i, (rel_type, quant, is_optional) = r
    else:
        r = relationship_type(s, i)
        if r is not None:
            i, rel_type = r
    i = ws0(s, i)
    properties = None
    r = property_map(s, i)
    if r is not None:
        i, properties = r
    j = tag(s, i, "]")
    if j is None:
        return None
    i = j
    length = None
    r = length_range(s, i)
    if r is not None:
        i, length = r
    return (
        i,
        RelationshipDetails(
            variable=variable,
            direction=UNDIRECTED,
            properties=properties,
            rel_type=rel_type,
            length=length,
            quantifier=quant,
            is_optional=is_optional,
        ),
    )


def relationship_pattern(s: str, i: int):
    """(- | <-) details (-> | -) → direction (patterns.rs:101-131)."""
    i = ws0(s, i)
    left = None
    j = tag(s, i, "<-")
    if j is not None:
        left = "<-"
    else:
        j = tag(s, i, "-")
        if j is not None:
            left = "-"
    if left is None:
        return None
    i = j
    r = relationship_details(s, i)
    if r is None:
        return None
    i, details = r
    right = None
    j = tag(s, i, "->")
    if j is not None:
        right = "->"
    else:
        j = tag(s, i, "-")
        if j is not None:
            right = "-"
    if right is None:
        return None
    i = j
    if (left, right) == ("-", "->"):
        details.direction = RIGHT
    elif (left, right) == ("<-", "-"):
        details.direction = LEFT
    else:  # ("-","-") and the <-...-> collapse (patterns.rs:119-124)
        details.direction = UNDIRECTED
    return (i, RelationshipPattern(details=details, optional=details.is_optional))


def _at_boundary(s: str, i: int) -> bool:
    j = ws0(s, i)
    if j >= len(s):
        return True
    return s.startswith(_BOUNDARIES, j)


def pattern_element_sequence(s: str, i: int, allow_qpp: bool):
    """The pattern loop (patterns.rs:133-287). Never fails; may return []."""
    elements = []
    loop_count = 0
    while True:
        loop_count += 1
        if loop_count > MAX_LOOPS:
            break
        if _at_boundary(s, i):
            break
        # QPP detection: balanced-paren scan + next char { + * (patterns.rs:184-240)
        if allow_qpp:
            j = ws0(s, i)
            if j < len(s) and s[j] == "(":
                idx = matching_paren(s, j + 1)
                if idx >= 0:
                    k = ws0(s, idx + 1)
                    if k < len(s) and s[k] in "{+*":
                        r = quantified_path_pattern(s, j)
                        if r is not None:
                            i2, pattern = r
                            elements.append(pattern)
                            i = ws0(s, i2)
                            continue
                        # QPP parse failed: fall through to regular parsing
        before = i
        r = node_pattern(s, i)
        if r is not None:
            i, node = r
            elements.append(node)
        else:
            r = relationship_pattern(s, i)
            if r is not None:
                i, rel = r
                elements.append(rel)
            else:
                break
        if i == before:
            break
    return (i, elements)


def path_variable(s: str, i: int):
    """identifier ws0 '=' ws0 (patterns.rs:312-317)."""
    r = identifier(s, i)
    if r is None:
        return None
    i, var = r
    i = ws0(s, i)
    j = tag(s, i, "=")
    if j is None:
        return None
    i = ws0(s, j)
    return (i, var)


def match_element(s: str, i: int):
    """optional `path =` prefix + sequence (patterns.rs:289-306). Never fails."""
    path_var = None
    r = path_variable(s, i)
    if r is not None:
        i, path_var = r
    i, pattern = pattern_element_sequence(s, i, True)
    return (i, MatchElement(path_var=path_var, pattern=pattern))


def quantified_path_pattern(s: str, i: int):
    """((…) WHERE cond?){m,n} / + / * (patterns.rs:319-470).

    Faithfully reproduces: inner quantifiers stripped, `{m,n}` separator is
    `..` or `,`, exact `{n}` unsupported, unparsed leftovers inside the
    parens silently dropped, nested QPPs unsupported.
    """
    from .clauses import where_clause  # circular at import time, fine at call time

    j = tag(s, i, "(")
    if j is None:
        return None
    i = j
    path_var = None
    r = path_variable(s, i)
    if r is not None:
        i, path_var = r
    idx = matching_paren(s, i)
    if idx < 0:
        return None
    inner = s[i:idx]
    after_paren = idx + 1
    ri, inner_pattern = pattern_element_sequence(inner, 0, False)
    # Strip quantifiers from relationships inside the QPP (patterns.rs:377-386)
    for element in inner_pattern:
        if isinstance(element, RelationshipPattern):
            element.details.quantifier = None
    where = None
    r = where_clause(inner, ri)
    if r is not None:
        _, where = r
    # any remaining text inside the parens is dropped (reference behavior)
    i = ws0(s, after_paren)
    j = tag(s, i, "+")
    if j is not None:
        i, mn, mx = j, 1, None
    else:
        j = tag(s, i, "*")
        if j is not None:
            i, mn, mx = j, 0, None
        else:
            j = tag(s, i, "{")
            if j is None:
                return None
            i = j
            r = digit1(s, i)
            if r is None:
                return None
            i, mn_str = r
            mn = int(mn_str)
            j = tag(s, i, "..")
            if j is None:
                j = tag(s, i, ",")
            if j is None:
                return None
            i = j
            r = digit1(s, i)
            if r is not None:
                i, mx_str = r
                mx = int(mx_str)
            else:
                mx = None
    # consume '}' if present (patterns.rs:443-447)
    if i < len(s) and s[i] == "}":
        i += 1
    return (
        i,
        QuantifiedPathPattern(
            pattern=inner_pattern,
            min=mn,
            max=mx,
            where_clause=where,
            path_variable=path_var,
        ),
    )
