"""Component parsers (rust/cypher_guard/src/parser/components.rs).

Note the TWO property-value grammars (quirk Q10, SURVEY.md §2.6):
this module's ``property_value`` (used inside pattern maps ``(n {...})``)
accepts ONLY string | number | function-call (components.rs:29-38); the
SET/UNWIND grammar lives in clauses.py.
"""

from __future__ import annotations

from ..ast import LengthRange, Property, PropertyValue, Quantifier
from .utils import digit1, identifier, separated_list, string_literal, tag, ws0


def number_literal_components(s: str, i: int):
    """digit1 only — no sign, no float, no exponent (components.rs:23-26)."""
    r = digit1(s, i)
    if r is None:
        return None
    j, text = r
    return (j, int(text))


def property_value(s: str, i: int):
    """components.rs:29-38 — string | number | function_call(args→String)."""
    r = string_literal(s, i)
    if r is not None:
        return (r[0], PropertyValue.string(r[1]))
    r = number_literal_components(s, i)
    if r is not None:
        return (r[0], PropertyValue.number(r[1]))
    r = function_call(s, i)
    if r is not None:
        j, (name, args) = r
        return (j, PropertyValue.function_call(name, [PropertyValue.string(a) for a in args]))
    return None


def function_call(s: str, i: int):
    """components.rs:41-58 — args: '*' | identifier | string | number."""
    r = identifier(s, i)
    if r is None:
        return None
    j, name = r
    j2 = tag(s, j, "(")
    if j2 is None:
        return None
    j, args = separated_list(s, j2, _fc_arg)
    j2 = tag(s, j, ")")
    if j2 is None:
        return None
    return (j2, (name, args))


def _fc_arg(s: str, i: int):
    # alt order: '*' | identifier | string | number (components.rs:46-54)
    r = tag(s, i, "*")
    if r is not None:
        return (r, "*")
    r = identifier(s, i)
    if r is not None:
        return r
    r = string_literal(s, i)
    if r is not None:
        return r
    r = number_literal_components(s, i)
    if r is not None:
        return (r[0], str(r[1]))
    return None


def property_(s: str, i: int):
    """key ':' value (components.rs:61-75)."""
    i = ws0(s, i)
    r = identifier(s, i)
    if r is None:
        return None
    i, key = r
    i = ws0(s, i)
    j = tag(s, i, ":")
    if j is None:
        return None
    i = ws0(s, j)
    r = property_value(s, i)
    if r is None:
        return None
    i, value = r
    return (i, Property(key=key, value=value))


def property_map(s: str, i: int):
    """'{' property,* '}' (components.rs:78-86)."""
    j = tag(s, i, "{")
    if j is None:
        return None
    i, props = separated_list(s, ws0(s, j), property_)
    i = ws0(s, i)
    j = tag(s, i, "}")
    if j is None:
        return None
    return (j, props)


def relationship_type(s: str, i: int):
    """':' TYPE('|'TYPE)* → single joined string "A|B" (components.rs:89-107)."""
    j = tag(s, i, ":")
    if j is None:
        return None
    r = identifier(s, j)
    if r is None:
        return None
    i, first = r
    types = [first]
    while True:
        j = tag(s, i, "|")
        if j is None:
            break
        r = identifier(s, j)
        if r is None:
            return None  # Rust propagates the error after '|'
        i, t = r
        types.append(t)
    return (i, "|".join(types))


def quantifier(s: str, i: int):
    """*, +, *n, *n.., *n..m, optional trailing ? (components.rs:188-251)."""
    quant = None
    j = tag(s, i, "*")
    if j is not None:
        i = j
        r = digit1(s, i)
        if r is not None:
            i, mn = r
            j = tag(s, i, "..")
            if j is not None:
                i = j
                r = digit1(s, i)
                if r is not None:
                    i, mx = r
                    quant = Quantifier(min=int(mn), max=int(mx))
                else:
                    quant = Quantifier(min=int(mn), max=None)
            else:
                quant = Quantifier(min=int(mn), max=int(mn))
        else:
            quant = Quantifier(min=0, max=None)
    else:
        j = tag(s, i, "+")
        if j is not None:
            i = j
            quant = Quantifier(min=1, max=None)
    if quant is not None:
        j = tag(s, i, "?")
        if j is not None:
            return (j, (quant, True))
        return (i, (quant, False))
    return None


def variable_length_relationship(s: str, i: int):
    """rel_type + quantifier (components.rs:110-123)."""
    r = relationship_type(s, i)
    if r is None:
        return None
    i, rel_type = r
    r = quantifier(s, i)
    if r is None:
        return None
    i, (quant, is_optional) = r
    return (i, (rel_type, quant, is_optional))


def length_range(s: str, i: int):
    """'{' digits? ',' digits? '}' — comma required (components.rs:126-139)."""
    j = tag(s, i, "{")
    if j is None:
        return None
    i = j
    r = digit1(s, i)
    mn = None
    if r is not None:
        i, d = r
        mn = int(d)
    j = tag(s, i, ",")
    if j is None:
        return None
    i = j
    r = digit1(s, i)
    mx = None
    if r is not None:
        i, d = r
        mx = int(d)
    j = tag(s, i, "}")
    if j is None:
        return None
    return (j, LengthRange(min=mn, max=mx))
