"""Clause parsers + clause-order FSM (rust/cypher_guard/src/parser/clauses.rs).

Behavioral landmines reproduced on purpose (SURVEY.md §2.6):
- only MATCH/OPTIONAL are case-insensitive keywords (clauses.rs:52-57);
  RETURN/WHERE/WITH/MERGE/CREATE/UNWIND/CALL/SET/ON CREATE/ON MATCH/AS/
  AND/OR/NOT are case-sensitive; true/false/null are case-insensitive.
- WHERE operator alt order lists "<" before "<=" (clauses.rs:291-299), so
  `<=`, `>=`, `==` break the comparison and surface as whole-query errors.
- SET/UNWIND property values try identifier before number/bool, so bare
  `42`/`true` become String values (clauses.rs:790-800).
- RETURN items are stored as flat strings (clauses.rs:70-111).
- every clause's span offset is 0 (clauses.rs:805-847, quirk Q8), so
  clauses are carried as bare (kind, value) pairs.
"""

from __future__ import annotations

from ..ast import (
    CallClause,
    CreateClause,
    MatchClause,
    MergeClause,
    OnCreateClause,
    OnMatchClause,
    PropertyValue,
    Query,
    ReturnClause,
    SetClause,
    UnwindClause,
    UnwindExpression,
    WhereClause,
    WhereCondition,
    WithClause,
    WithExpression,
    WithItem,
)
from .patterns import match_element
from .template import parse_codegen_merge
from .utils import (
    digit1,
    identifier,
    keyword,
    path_property,
    separated_list,
    string_literal,
    tag,
    tag_no_case,
    ws0,
    ws1,
)

# Clause kind tags used by the order FSM
K_MATCH = "match"
K_OPTIONAL_MATCH = "optional_match"
K_MERGE = "merge"
K_CREATE = "create"
K_RETURN = "return"
K_WITH = "with"
K_UNWIND = "unwind"
K_WHERE = "where"
K_CALL = "call"


class ParseFail(Exception):
    """Internal nom-Err stand-in: kind is the ErrorKind name, remaining the
    input slice the error points at (message parity for NomParsingError)."""

    def __init__(self, kind: str, remaining: str):
        super().__init__(f"{kind}: {remaining}")
        self.kind = kind
        self.remaining = remaining


# --------------------------------------------------------------------------
# match / return
# --------------------------------------------------------------------------

def match_clause(s: str, i: int):
    """[OPTIONAL] MATCH — the only tag_no_case keywords (clauses.rs:49-67).
    Match elements never fail, so the list (clauses.rs:36-46) has one."""
    i = ws0(s, i)
    is_optional = False
    j = tag_no_case(s, i, "OPTIONAL")
    if j is not None:
        j2 = ws1(s, j)
        if j2 is not None:
            i = j2
            is_optional = True
    j = tag_no_case(s, i, "MATCH")
    if j is None:
        return None
    j2 = ws1(s, j)
    if j2 is None:
        return None
    i, elements = separated_list(s, j2, match_element)
    return (i, MatchClause(elements=elements, is_optional=is_optional))


def return_item(s: str, i: int):
    """Function call / prop access / identifier, each with opt AS (clauses.rs:70-111)."""
    r = function_call(s, i)
    if r is not None:
        j, (fn, args) = r
        r = (j, f"{fn}({', '.join(args)})")
    else:
        r = property_access(s, i) or identifier(s, i)
        if r is None:
            return None
    i, base = r
    r = _opt_as_alias(s, i)
    if r is not None:
        i, alias = r
        return (i, f"{base} AS {alias}")
    return (i, base)


def _opt_as_alias(s: str, i: int):
    j = ws0(s, i)
    j = tag(s, j, "AS")
    if j is None:
        return None
    j = ws1(s, j)
    if j is None:
        return None
    return identifier(s, j)


def return_clause(s: str, i: int):
    """RETURN item(,item)*; trailing comma rejected (clauses.rs:114-140)."""
    j = keyword(s, i, "RETURN")
    if j is None:
        return None
    i, items = separated_list(s, j, return_item)
    if not items:
        return None
    i = ws0(s, i)
    if i < len(s) and s[i] == ",":
        return None
    return (i, ReturnClause(items=items))


# --------------------------------------------------------------------------
# literals / accesses / function calls (clauses.rs:143-208); the string
# literal, numeric_literal and path_property live in utils
# --------------------------------------------------------------------------

def property_access(s: str, i: int):
    r = path_property(s, i)
    if r is None:
        return None
    i, (var, prop) = r
    return (i, f"{var}.{prop}")


def function_call(s: str, i: int):
    """Args flattened to strings; nested calls stringified (clauses.rs:174-208)."""
    i = ws0(s, i)
    r = identifier(s, i)
    if r is None:
        return None
    i, fn = r
    i = ws0(s, i)
    j = tag(s, i, "(")
    if j is None:
        return None
    i, args = separated_list(s, ws0(s, j), _call_arg)
    i = ws0(s, i)
    j = tag(s, i, ")")
    if j is None:
        return None
    return (j, (fn, args))


def _call_arg(s: str, i: int):
    # alt order (clauses.rs:184-202): nested call, prop access, string,
    # number, true, false, NULL, identifier
    r = function_call(s, i)
    if r is not None:
        j, (fn, args) = r
        return (j, f"{fn}({', '.join(args)})")
    r = property_access(s, i)
    if r is not None:
        return r
    r = string_literal(s, i)
    if r is not None:
        return r
    r = digit1(s, i)
    if r is not None:
        return r
    j = tag_no_case(s, i, "true")
    if j is not None:
        return (j, "true")
    j = tag_no_case(s, i, "false")
    if j is not None:
        return (j, "false")
    j = tag_no_case(s, i, "NULL")
    if j is not None:
        return (j, "NULL")
    return identifier(s, i)


# --------------------------------------------------------------------------
# WHERE expression grammar (clauses.rs:210-365)
# --------------------------------------------------------------------------

def parse_where_expr(s: str, i: int):
    i, terms = separated_list(s, i, parse_and_expr, "OR")
    return _fold_left(i, terms, "or")


def parse_and_expr(s: str, i: int):
    i, terms = separated_list(s, i, parse_basic_condition, "AND")
    return _fold_left(i, terms, "and")


def _fold_left(i: int, terms: list, kind: str):
    """(i, t0 kind t1 kind t2 …) nested to the left, or None for no terms."""
    if not terms:
        return None
    left = terms[0]
    for right in terms[1:]:
        left = WhereCondition(kind=kind, lhs=left, rhs=right)
    return (i, left)


# operator alt order is load-bearing: "<" before "<=" breaks <=, >=, ==
# (clauses.rs:291-299, quirk Q1)
_OPERATORS = ("=", "<>", "<", ">", "<=", ">=", "IS NULL", "IS NOT NULL")


def parse_basic_condition(s: str, i: int):
    i = ws0(s, i)
    j = tag(s, i, "NOT")
    if j is not None:
        # once "NOT" matched, ws1 + inner condition are mandatory (`?`
        # propagation in the reference) — the whole condition fails otherwise
        j2 = ws1(s, j)
        if j2 is None:
            return None
        r = parse_basic_condition(s, j2)
        if r is None:
            return None
        return (r[0], WhereCondition(kind="not", inner=r[1]))
    j = tag(s, i, "(")
    if j is not None:
        r = parse_where_expr(s, j)
        if r is None:
            return None
        k, inner = r
        k2 = tag(s, k, ")")
        if k2 is None:
            return None
        return (k2, WhereCondition(kind="parenthesized", inner=inner))
    r = function_call(s, i)
    if r is not None:
        j, (fn, args) = r
        return (j, WhereCondition(kind="function_call", function=fn, arguments=args))
    comparison = _parse_comparison(s, i)
    if comparison is not None:
        return comparison
    r = path_property(s, i)
    if r is not None:
        j, (var, prop) = r
        return (j, WhereCondition(kind="path_property", path_var=var, property=prop))
    return None


def _parse_comparison(s: str, i: int):
    r = property_access(s, i) or identifier(s, i)
    if r is None:
        return None
    i2, name = r
    left = PropertyValue.identifier(name)
    i = ws0(s, i2)
    op = None
    for candidate in _OPERATORS:
        j = tag(s, i, candidate)
        if j is not None:
            op = candidate
            i = j
            break
    if op is None:
        return None
    if op in ("IS NULL", "IS NOT NULL"):
        return (
            i,
            WhereCondition(kind="comparison", left=left, operator=op, right=PropertyValue.null()),
        )
    i = ws0(s, i)
    r = string_literal(s, i)
    if r is not None:
        return (r[0], WhereCondition(kind="comparison", left=left, operator=op, right=PropertyValue.string(r[1])))
    r = digit1(s, i)
    if r is not None:
        return (r[0], WhereCondition(kind="comparison", left=left, operator=op, right=PropertyValue.number(int(r[1]))))
    j = tag_no_case(s, i, "true")
    if j is not None:
        return (j, WhereCondition(kind="comparison", left=left, operator=op, right=PropertyValue.boolean(True)))
    j = tag_no_case(s, i, "false")
    if j is not None:
        return (j, WhereCondition(kind="comparison", left=left, operator=op, right=PropertyValue.boolean(False)))
    j = tag_no_case(s, i, "null")
    if j is not None:
        return (j, WhereCondition(kind="comparison", left=left, operator=op, right=PropertyValue.null()))
    r = identifier(s, i)
    if r is not None:
        return (r[0], WhereCondition(kind="comparison", left=left, operator=op, right=PropertyValue.identifier(r[1])))
    return None


def where_clause(s: str, i: int):
    j = keyword(s, i, "WHERE")
    if j is None:
        return None
    r = parse_where_expr(s, j)
    if r is None:
        return None
    i, condition = r
    return (i, WhereClause(conditions=[condition]))


# --------------------------------------------------------------------------
# SET / ON CREATE / ON MATCH / MERGE / CREATE (clauses.rs:368-468)
# --------------------------------------------------------------------------

def set_clause(s: str, i: int):
    r = path_property(s, i)
    if r is None:
        return None
    i, (var, prop) = r
    i = ws0(s, i)
    j = tag(s, i, "=")
    if j is None:
        return None
    i = ws0(s, j)
    r = property_value(s, i)
    if r is None:
        return None
    i, value = r
    return (i, SetClause(variable=var, property=prop, value=value))


def on_set_clause(s: str, i: int, kw: str, clause_type):
    """``kw SET s(,s)*`` as a ``clause_type``: on_create_clause is
    ("ON CREATE", OnCreateClause), on_match_clause ("ON MATCH",
    OnMatchClause) (clauses.rs:387-396, :399-413)."""
    j = keyword(s, i, kw)
    if j is None:
        return None
    j = keyword(s, j, "SET")
    if j is None:
        return None
    i, set_clauses = separated_list(s, j, set_clause)
    if not set_clauses:
        return None
    return (i, clause_type(set_clauses=set_clauses))


def merge_clause(s: str, i: int):
    """MERGE elems + ≤1 ON CREATE + ≤1 ON MATCH, any order (clauses.rs:416-459)."""
    j = keyword(s, i, "MERGE")
    if j is None:
        return None
    i, elements = separated_list(s, j, match_element)
    found_on_create = None
    found_on_match = None
    for _ in range(2):
        i = ws0(s, i)
        if found_on_create is None:
            r = on_set_clause(s, i, "ON CREATE", OnCreateClause)
            if r is not None:
                i, found_on_create = r
                continue
        if found_on_match is None:
            r = on_set_clause(s, i, "ON MATCH", OnMatchClause)
            if r is not None:
                i, found_on_match = r
                continue
        break
    return (
        i,
        MergeClause(elements=elements, on_create=found_on_create, on_match=found_on_match),
    )


def create_clause(s: str, i: int):
    j = keyword(s, i, "CREATE")
    if j is None:
        return None
    i, elements = separated_list(s, j, match_element)
    return (i, CreateClause(elements=elements))


# --------------------------------------------------------------------------
# WITH (clauses.rs:471-506)
# --------------------------------------------------------------------------

def with_item(s: str, i: int):
    expr = None
    j = tag(s, i, "*")
    if j is not None:
        i = j
        expr = WithExpression(kind="wildcard")
    else:
        r = path_property(s, i)
        if r is not None:
            i, (var, prop) = r
            expr = WithExpression(kind="property_access", variable=var, property=prop)
        else:
            r = function_call(s, i)
            if r is not None:
                i, (fn, args) = r
                expr = WithExpression(
                    kind="function_call",
                    name=fn,
                    args=[WithExpression(kind="identifier", name=a) for a in args],
                )
            else:
                r = identifier(s, i)
                if r is None:
                    return None
                i, name = r
                expr = WithExpression(kind="identifier", name=name)
    alias = None
    r = _opt_as_alias(s, i)
    if r is not None:
        i, alias = r
    return (i, WithItem(expression=expr, alias=alias))


def with_clause(s: str, i: int):
    j = keyword(s, i, "WITH")
    if j is None:
        return None
    i, items = separated_list(s, j, with_item)
    if not items:
        return None
    return (i, WithClause(items=items))


# --------------------------------------------------------------------------
# CALL + subquery (clauses.rs:509-638)
# --------------------------------------------------------------------------

def parse_subquery(s: str, i: int):
    clauses = []
    rest = i
    while True:
        check = ws0(s, rest)
        if check >= len(s) or s[check] == "}":
            break
        r = clause(s, rest)
        if r is None:
            break
        rest, kind_clause = r
        clauses.append(kind_clause)
    if validate_clause_order(clauses) is not None:
        return None  # degraded to a plain Tag error (quirk Q9)
    if not clauses:
        return None
    return (rest, _bucket_clauses(clauses))


def call_clause(s: str, i: int):
    i = keyword(s, i, "CALL")
    if i is None:
        return None
    # CALL { subquery }
    k = ws0(s, i)
    k2 = tag(s, k, "{")
    if k2 is not None:
        k = ws0(s, k2)
        r = parse_subquery(s, k)
        if r is not None:
            k, subquery = r
            k = ws0(s, k)
            k2 = tag(s, k, "}")
            if k2 is not None:
                k = ws0(s, k2)
                return (k, CallClause(subquery=subquery))
    # CALL ns.proc() — must be dotted, zero args (clauses.rs:611-619)
    r = path_property(s, i)
    if r is None:
        return None
    i, (ns, name) = r
    procedure = f"{ns}.{name}"
    i = ws0(s, i)
    j = tag(s, i, "(")
    if j is None:
        return None
    i = ws0(s, j)
    j = tag(s, i, ")")
    if j is None:
        return None
    i = j
    yield_clause = None
    k = keyword(s, i, "YIELD")
    if k is not None:
        k, names = separated_list(s, k, identifier)
        if names:
            i, yield_clause = k, names
    return (i, CallClause(procedure=procedure, yield_clause=yield_clause))


# --------------------------------------------------------------------------
# UNWIND + the SET/UNWIND property-value grammar (clauses.rs:640-802)
# --------------------------------------------------------------------------

def parameter(s: str, i: int):
    j = tag(s, i, "$")
    if j is None:
        return None
    return identifier(s, j)


def unwind_clause(s: str, i: int):
    """UNWIND expr AS var (clauses.rs:648-734). Each expression alternative
    is an `if let Ok(...)` block in the reference: once the expression
    matches, the `AS var` suffix is mandatory and its failure fails the
    whole clause (`?` propagation), with no fallthrough."""
    i = keyword(s, i, "UNWIND")
    if i is None:
        return None
    r = _unwind_expression(s, i)
    if r is None:
        return None
    k, expr = r
    k = ws1(s, k)
    if k is None:
        return None
    k = keyword(s, k, "AS")
    if k is None:
        return None
    r = identifier(s, k)
    if r is None:
        return None
    return (r[0], UnwindClause(expr, r[1]))


def _unwind_expression(s: str, i: int):
    # alt order: parameter, list, function call, property access, identifier
    r = parameter(s, i)
    if r is not None:
        return (r[0], UnwindExpression(kind="parameter", value=r[1]))
    r = property_value(s, i)
    if r is not None and r[1].kind == "list":
        return (r[0], UnwindExpression(kind="list", value=r[1].value))
    r = function_call(s, i)
    if r is not None:
        k, (fn, args) = r
        return (
            k,
            UnwindExpression(kind="function_call", name=fn, args=[PropertyValue.string(a) for a in args]),
        )
    r = property_access(s, i) or identifier(s, i)
    if r is not None:
        return (r[0], UnwindExpression(kind="identifier", value=r[1]))
    return None


def _primitive_value(s: str, i: int):
    # list items and map values (clauses.rs:747-756, :769-778):
    # string | number | true | false | NULL | parameter
    r = string_literal(s, i)
    if r is not None:
        return (r[0], PropertyValue.string(r[1]))
    r = digit1(s, i)
    if r is not None:
        return (r[0], PropertyValue.number(int(r[1])))
    j = tag_no_case(s, i, "true")
    if j is not None:
        return (j, PropertyValue.boolean(True))
    j = tag_no_case(s, i, "false")
    if j is not None:
        return (j, PropertyValue.boolean(False))
    j = tag_no_case(s, i, "NULL")
    if j is not None:
        return (j, PropertyValue.null())
    r = parameter(s, i)
    if r is not None:
        return (r[0], PropertyValue.parameter(r[1]))
    return None


def property_value(s: str, i: int):
    """SET/UNWIND value grammar (clauses.rs:737-802).

    Quirk: in the primitive alt, identifier comes before number/bool/null,
    so bare `42` and `true` become String("42")/String("true").
    """
    r = parameter(s, i)
    if r is not None:
        return (r[0], PropertyValue.parameter(r[1]))
    j = tag(s, i, "[")
    if j is not None:
        j, items = separated_list(s, j, _primitive_value)
        j = tag(s, j, "]")
        if j is None:
            return None
        return (j, PropertyValue.list_(items))
    j = tag(s, i, "{")
    if j is not None:
        j, pairs = separated_list(s, j, _map_pair)
        j = tag(s, j, "}")
        if j is None:
            return None
        return (j, PropertyValue.map_(dict(pairs)))
    # primitive alt (clauses.rs:790-800): string, identifier→String, then
    # _primitive_value's tail. An identifier never starts with a quote, so
    # trying it before the string literal keeps that order.
    r = identifier(s, i)
    if r is not None:
        return (r[0], PropertyValue.string(r[1]))
    return _primitive_value(s, i)


def _map_pair(s: str, i: int):
    r = identifier(s, i)
    if r is None:
        return None
    i, key = r
    i = ws0(s, i)
    j = tag(s, i, ":")
    if j is None:
        return None
    i = ws0(s, j)
    r = _primitive_value(s, i)
    if r is None:
        return None
    i, v = r
    return (i, (key, v))


# --------------------------------------------------------------------------
# clause dispatch + query loop + order FSM (clauses.rs:805-1127)
# --------------------------------------------------------------------------

_CLAUSE_PARSERS = (
    (K_WITH, with_clause),
    (K_WHERE, where_clause),
    (K_MATCH, match_clause),
    (K_RETURN, return_clause),
    (K_MERGE, merge_clause),
    (K_CREATE, create_clause),
    (K_UNWIND, unwind_clause),
    (K_CALL, call_clause),
)


def clause(s: str, i: int):
    """alt in order WITH, WHERE, MATCH, RETURN, MERGE, CREATE, UNWIND, CALL;
    returns (end, (kind, clause)).

    The reference wraps each clause in a Spanned<Clause> whose offset is
    always 0 — quirk Q8 (clauses.rs:809-811 computes it against the slice
    handed to clause() itself) — and nothing reads it, so no span is kept.
    """
    for kind, parser in _CLAUSE_PARSERS:
        r = parser(s, i)
        if r is not None:
            j, value = r
            if kind == K_MATCH and getattr(value, "is_optional", False):
                kind_eff = K_OPTIONAL_MATCH
            else:
                kind_eff = kind
            return (j, (kind_eff, value))
    return None


def parse_query(s: str):
    """clauses.rs:850-928 — returns Query or raises ParseFail (nom parity).

    ParseFail kinds: "Verify" (unconsumed input, with the remaining slice)
    or "Tag" (clause-order violation / empty query, with the full input).
    Codegen-rendered MERGE batches take the template recognizer, which
    returns the AST the full parser would; everything else goes to the
    full parser.
    """
    query = parse_codegen_merge(s)
    if query is not None:
        return query
    return _parse_full(s)


def _parse_full(s: str):
    """The recursive-descent query loop behind ``parse_query``."""
    i = 0
    clauses = []
    while True:
        i = ws0(s, i)
        if i >= len(s):
            break
        r = clause(s, i)
        if r is None:
            break
        i, kind_clause = r
        clauses.append(kind_clause)
    i = ws0(s, i)
    if i < len(s):
        raise ParseFail("Verify", s[i:])
    if validate_clause_order(clauses) is not None:
        raise ParseFail("Tag", s)
    if not clauses:
        raise ParseFail("Tag", s)
    return _bucket_clauses(clauses)




# kind → the Query vector its clauses are bucketed into (clauses.rs:890-925)
_QUERY_VECTOR = {
    K_MATCH: "match_clauses",
    K_OPTIONAL_MATCH: "match_clauses",
    K_MERGE: "merge_clauses",
    K_CREATE: "create_clauses",
    K_WITH: "with_clauses",
    K_WHERE: "where_clauses",
    K_RETURN: "return_clauses",
    K_UNWIND: "unwind_clauses",
    K_CALL: "call_clauses",
}


def _bucket_clauses(clauses) -> Query:
    query = Query()
    for kind, value in clauses:
        getattr(query, _QUERY_VECTOR[kind]).append(value)
    return query


# 8-state FSM (clauses.rs:939-1111). Returns None when valid, or an opaque
# reason string when invalid — parse_query always degrades the reason to a
# Tag error (reference behavior; the specific variants never surface).
# The state a clause leads to depends on its kind alone (_NEXT_STATE);
# each state lists the kinds it accepts (_ALLOWED).
_INITIAL = "Initial"
_AFTER_MATCH = "AfterMatch"
_AFTER_UNWIND = "AfterUnwind"
_AFTER_WHERE = "AfterWhere"
_AFTER_WITH = "AfterWith"
_AFTER_RETURN = "AfterReturn"
_AFTER_WRITE = "AfterWrite"
_AFTER_CALL = "AfterCall"

_NEXT_STATE = {
    K_MATCH: _AFTER_MATCH,
    K_OPTIONAL_MATCH: _AFTER_MATCH,
    K_UNWIND: _AFTER_UNWIND,
    K_WHERE: _AFTER_WHERE,
    K_WITH: _AFTER_WITH,
    K_RETURN: _AFTER_RETURN,
    K_CREATE: _AFTER_WRITE,
    K_MERGE: _AFTER_WRITE,
    K_CALL: _AFTER_CALL,
}

_MATCHY = {K_MATCH, K_OPTIONAL_MATCH}
_WRITE = {K_CREATE, K_MERGE}
_ANY = frozenset(_NEXT_STATE)

_ALLOWED = {
    _INITIAL: frozenset({*_MATCHY, K_UNWIND, *_WRITE, K_CALL}),
    _AFTER_MATCH: _ANY,
    # NB: no MATCH transition after UNWIND (clauses.rs:986-994) — reproduced.
    _AFTER_UNWIND: _ANY - _MATCHY,
    _AFTER_WHERE: _ANY,
    _AFTER_WITH: _ANY,
    _AFTER_CALL: _ANY - _MATCHY - {K_UNWIND},
    # CREATE/MERGE allowed after RETURN (clauses.rs:1033-1035)
    _AFTER_RETURN: frozenset(_WRITE),
    _AFTER_WRITE: frozenset({*_WRITE, K_RETURN, K_WITH}),
}


def validate_clause_order(clauses):
    """None when the order is valid, else a reason string (always degraded
    to a Tag error by the callers — clauses.rs:882-888, :534-540)."""
    if not clauses:
        return None
    state = _INITIAL
    for kind, _ in clauses:
        if kind not in _ALLOWED[state]:
            return f"invalid transition: {state} + {kind}"
        state = _NEXT_STATE[kind]
    if state == _INITIAL:
        return "missing reading clause"
    if state == _AFTER_WITH:
        return "query may not end after WITH"
    return None
