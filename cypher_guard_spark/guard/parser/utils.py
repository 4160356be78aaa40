"""Shared lexical helpers and combinators (rust/cypher_guard/src/parser/utils.rs).

Each grammar building block has one copy here; the nom combinator it
stands for is named beside it:

- ``identifier``: take_while1(alphanumeric | '_'). It accepts leading
  digits (``123name`` is a valid identifier; utils.rs:3-5, quirk in
  clauses.rs:1334-1339). "alphanumeric" is Rust's char::is_alphanumeric,
  i.e. full Unicode — Python's str.isalnum matches closely enough for the
  corpus (both accept e.g. 'é'); '_' added explicitly.
- ``ws0`` / ``ws1``: multispace0 / multispace1.
- ``tag`` / ``tag_no_case``: tag / tag_no_case.
- ``digit1``: digit1 (ASCII digits only).
- ``string_literal``: delimited(char(q), take_while(≠ q), char(q)).
- ``keyword``: preceded(multispace0, terminated(tag(KW), multispace1)).
- ``separated_list``: separated_list0(ws0 SEP ws0, item).
- ``path_property``: tuple((identifier, char('.'), identifier)).
- ``matching_paren``: no nom counterpart; the balanced-paren scan of
  patterns.rs:184-240 and :330-350.
"""

from __future__ import annotations


def identifier(s: str, i: int):
    j = i
    n = len(s)
    while j < n and (s[j] == "_" or s[j].isalnum()):
        j += 1
    if j == i:
        return None
    return (j, s[i:j])


def ws0(s: str, i: int) -> int:
    """multispace0 — always succeeds, returns new index."""
    n = len(s)
    while i < n and s[i] in " \t\r\n":
        i += 1
    return i


def ws1(s: str, i: int):
    """multispace1 — at least one whitespace char."""
    j = ws0(s, i)
    if j == i:
        return None
    return j


def tag(s: str, i: int, t: str):
    if s.startswith(t, i):
        return i + len(t)
    return None


def tag_no_case(s: str, i: int, t: str):
    """nom 7's compare_no_case for &str: the input and the (ASCII) tag
    agree char by char under char::to_lowercase. Lower-casing the slice
    is that rule: a char whose lowercase is longer than one char cannot
    match. Upper-casing would also accept 'ı' (U+0131) for 'I' and 'ſ'
    (U+017F) for 'S'."""
    j = i + len(t)
    if s[i:j].lower() == t.lower():
        return j
    return None


def digit1(s: str, i: int):
    """digit1 → (i, digits as a string). Also clauses.rs's
    ``numeric_literal`` (clauses.rs:143-146), which returns digit1 as is."""
    j = i
    n = len(s)
    while j < n and s[j].isdigit() and s[j].isascii():
        j += 1
    if j == i:
        return None
    return (j, s[i:j])


def string_literal(s: str, i: int):
    """'...' or "..." with no escape handling: the next quote of the same
    kind ends it. Both reference copies, clauses.rs's
    ``string_literal_local`` (:149-154) and components.rs:15-20."""
    if i >= len(s) or s[i] not in "'\"":
        return None
    j = s.find(s[i], i + 1)
    if j < 0:
        return None  # unterminated: char(quote) fails
    return (j + 1, s[i + 1 : j])


def keyword(s: str, i: int, kw: str):
    """ws0, the case-sensitive keyword, then mandatory whitespace; the
    index after that whitespace, or None."""
    i = ws0(s, i)
    if not s.startswith(kw, i):
        return None
    return ws1(s, i + len(kw))


def separated_list(s: str, i: int, item, sep: str = ","):
    """nom separated_list0: ``item (ws0 SEP ws0 item)*``. Returns (i, items)
    with i after the last item that parsed; items is empty when the first
    item fails, and callers that need one item check that themselves."""
    r = item(s, i)
    if r is None:
        return (i, [])
    i, first = r
    items = [first]
    while True:
        k = ws0(s, i)
        if not s.startswith(sep, k):
            return (i, items)
        r = item(s, ws0(s, k + len(sep)))
        if r is None:
            return (i, items)
        i, value = r
        items.append(value)


def path_property(s: str, i: int):
    """identifier '.' identifier → (i, (var, prop)) (clauses.rs:157-162)."""
    r = identifier(s, i)
    if r is None:
        return None
    i, var = r
    if not s.startswith(".", i):
        return None
    r = identifier(s, i + 1)
    if r is None:
        return None
    return (r[0], (var, r[1]))


def matching_paren(s: str, i: int) -> int:
    """Index of the ')' closing a '(' just before ``i``, or -1. Parens
    inside string literals count too (reference behavior)."""
    depth = 1
    for k in range(i, len(s)):
        c = s[k]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return k
    return -1
