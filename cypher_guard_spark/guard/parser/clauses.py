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
- every Spanned offset is 0 (clauses.rs:805-847, quirk Q8).
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
    Spanned,
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
from .utils import digit1, identifier, tag, tag_no_case, ws0, ws1

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

def match_element_list(s: str, i: int):
    """Comma-separated match elements (clauses.rs:36-46). Elements never fail."""
    i, first = match_element(s, i)
    elements = [first]
    while True:
        k = ws0(s, i)
        k2 = tag(s, k, ",")
        if k2 is None:
            break
        k = ws0(s, k2)
        i, e = match_element(s, k)
        elements.append(e)
    return (i, elements)


def match_clause(s: str, i: int):
    """[OPTIONAL] MATCH — the only tag_no_case keywords (clauses.rs:49-67)."""
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
    i, elements = match_element_list(s, j2)
    return (i, MatchClause(elements=elements, is_optional=is_optional))


def return_item(s: str, i: int):
    """Function call / prop access / identifier, each with opt AS (clauses.rs:70-111)."""
    r = function_call(s, i)
    if r is not None:
        j, (fn, args) = r
        base = f"{fn}({', '.join(args)})"
        r2 = _opt_as_alias(s, j)
        if r2 is not None:
            j, alias = r2
            return (j, f"{base} AS {alias}")
        return (j, base)
    r = identifier(s, i)
    if r is None:
        return None
    i, first = r
    j = tag(s, i, ".")
    base = first
    if j is not None:
        r = identifier(s, j)
        if r is not None:
            i, prop = r
            base = f"{first}.{prop}"
    r2 = _opt_as_alias(s, i)
    if r2 is not None:
        i, alias = r2
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
    r = identifier(s, j)
    if r is None:
        return None
    return r


def return_clause(s: str, i: int):
    """RETURN item(,item)*; trailing comma rejected (clauses.rs:114-140)."""
    i = ws0(s, i)
    j = tag(s, i, "RETURN")
    if j is None:
        return None
    j = ws1(s, j)
    if j is None:
        return None
    r = return_item(s, j)
    if r is None:
        return None
    i, first = r
    items = [first]
    while True:
        k = ws0(s, i)
        k2 = tag(s, k, ",")
        if k2 is None:
            break
        k = ws0(s, k2)
        r = return_item(s, k)
        if r is None:
            break
        i, item = r
        items.append(item)
    i = ws0(s, i)
    if i < len(s) and s[i] == ",":
        return None
    return (i, ReturnClause(items=items))


# --------------------------------------------------------------------------
# literals / accesses / function calls (clauses.rs:143-208)
# --------------------------------------------------------------------------

def numeric_literal(s: str, i: int):
    r = digit1(s, i)
    if r is None:
        return None
    return r  # (i, digits-as-string)


def string_literal_local(s: str, i: int):
    """No escape handling; a quote char terminates (clauses.rs:149-154)."""
    if i >= len(s) or s[i] not in "'\"":
        return None
    quote = s[i]
    j = i + 1
    n = len(s)
    while j < n and s[j] != quote:
        j += 1
    if j >= n:
        return None
    return (j + 1, s[i + 1 : j])


def path_property(s: str, i: int):
    r = identifier(s, i)
    if r is None:
        return None
    i, var = r
    j = tag(s, i, ".")
    if j is None:
        return None
    r = identifier(s, j)
    if r is None:
        return None
    i, prop = r
    return (i, (var, prop))


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
    i = ws0(s, j)
    args = []
    r = _call_arg(s, i)
    if r is not None:
        i, a = r
        args.append(a)
        while True:
            k = ws0(s, i)
            k2 = tag(s, k, ",")
            if k2 is None:
                break
            k = ws0(s, k2)
            r = _call_arg(s, k)
            if r is None:
                break
            i, a = r
            args.append(a)
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
    r = string_literal_local(s, i)
    if r is not None:
        return r
    r = numeric_literal(s, i)
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
    r = identifier(s, i)
    if r is not None:
        return r
    return None


# --------------------------------------------------------------------------
# WHERE expression grammar (clauses.rs:210-365)
# --------------------------------------------------------------------------

def parse_where_expr(s: str, i: int):
    r = parse_and_expr(s, i)
    if r is None:
        return None
    i, left = r
    while True:
        k = ws0(s, i)
        k2 = tag(s, k, "OR")
        if k2 is None:
            break
        k = ws0(s, k2)
        r = parse_and_expr(s, k)
        if r is None:
            break
        i, right = r
        left = WhereCondition(kind="or", lhs=left, rhs=right)
    return (i, left)


def parse_and_expr(s: str, i: int):
    r = parse_basic_condition(s, i)
    if r is None:
        return None
    i, left = r
    while True:
        k = ws0(s, i)
        k2 = tag(s, k, "AND")
        if k2 is None:
            break
        k = ws0(s, k2)
        r = parse_basic_condition(s, k)
        if r is None:
            break
        i, right = r
        left = WhereCondition(kind="and", lhs=left, rhs=right)
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
    r = property_access(s, i)
    if r is not None:
        i2, acc = r
        left = PropertyValue.identifier(acc)
    else:
        r = identifier(s, i)
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
    r = string_literal_local(s, i)
    if r is not None:
        return (r[0], WhereCondition(kind="comparison", left=left, operator=op, right=PropertyValue.string(r[1])))
    r = numeric_literal(s, i)
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
    i = ws0(s, i)
    j = tag(s, i, "WHERE")
    if j is None:
        return None
    j = ws1(s, j)
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
    r = identifier(s, i)
    if r is None:
        return None
    i, var = r
    j = tag(s, i, ".")
    if j is None:
        return None
    r = identifier(s, j)
    if r is None:
        return None
    i, prop = r
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


def _set_clause_list(s: str, i: int):
    r = set_clause(s, i)
    if r is None:
        return None
    i, first = r
    clauses = [first]
    while True:
        k = ws0(s, i)
        k2 = tag(s, k, ",")
        if k2 is None:
            break
        k = ws0(s, k2)
        r = set_clause(s, k)
        if r is None:
            break
        i, c = r
        clauses.append(c)
    return (i, clauses)


def on_create_clause(s: str, i: int):
    i = ws0(s, i)
    j = tag(s, i, "ON CREATE")
    if j is None:
        return None
    j = ws1(s, j)
    if j is None:
        return None
    j = tag(s, j, "SET")
    if j is None:
        return None
    j = ws1(s, j)
    if j is None:
        return None
    r = _set_clause_list(s, j)
    if r is None:
        return None
    i, set_clauses = r
    return (i, OnCreateClause(set_clauses=set_clauses))


def on_match_clause(s: str, i: int):
    i = ws0(s, i)
    j = tag(s, i, "ON MATCH")
    if j is None:
        return None
    j = ws1(s, j)
    if j is None:
        return None
    j = tag(s, j, "SET")
    if j is None:
        return None
    j = ws1(s, j)
    if j is None:
        return None
    r = _set_clause_list(s, j)
    if r is None:
        return None
    i, set_clauses = r
    return (i, OnMatchClause(set_clauses=set_clauses))


def merge_clause(s: str, i: int):
    """MERGE elems + ≤1 ON CREATE + ≤1 ON MATCH, any order (clauses.rs:416-459)."""
    i = ws0(s, i)
    j = tag(s, i, "MERGE")
    if j is None:
        return None
    j = ws1(s, j)
    if j is None:
        return None
    i, elements = match_element_list(s, j)
    found_on_create = None
    found_on_match = None
    for _ in range(2):
        i = ws0(s, i)
        if found_on_create is None:
            r = on_create_clause(s, i)
            if r is not None:
                i, found_on_create = r
                continue
        if found_on_match is None:
            r = on_match_clause(s, i)
            if r is not None:
                i, found_on_match = r
                continue
        break
    return (
        i,
        MergeClause(elements=elements, on_create=found_on_create, on_match=found_on_match),
    )


def create_clause(s: str, i: int):
    i = ws0(s, i)
    j = tag(s, i, "CREATE")
    if j is None:
        return None
    j = ws1(s, j)
    if j is None:
        return None
    i, elements = match_element_list(s, j)
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
        r = property_access(s, i)
        if r is not None:
            i, acc = r
            var, prop = acc.split(".", 1)
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
    i = ws0(s, i)
    j = tag(s, i, "WITH")
    if j is None:
        return None
    j = ws1(s, j)
    if j is None:
        return None
    r = with_item(s, j)
    if r is None:
        return None
    i, first = r
    items = [first]
    while True:
        k = ws0(s, i)
        k2 = tag(s, k, ",")
        if k2 is None:
            break
        k = ws0(s, k2)
        r = with_item(s, k)
        if r is None:
            break
        i, item = r
        items.append(item)
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
        rest, spanned = r
        clauses.append(spanned)
    if validate_clause_order(clauses) is not None:
        return None  # degraded to a plain Tag error (quirk Q9)
    if not clauses:
        return None
    return (rest, _bucket_clauses(clauses))


def call_clause(s: str, i: int):
    i = ws0(s, i)
    j = tag(s, i, "CALL")
    if j is None:
        return None
    j = ws1(s, j)
    if j is None:
        return None
    i = j
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
    r = identifier(s, i)
    if r is None:
        return None
    i, ns = r
    j = tag(s, i, ".")
    if j is None:
        return None
    r = identifier(s, j)
    if r is None:
        return None
    i, name = r
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
    k = ws0(s, i)
    k2 = tag(s, k, "YIELD")
    if k2 is not None:
        k3 = ws1(s, k2)
        if k3 is not None:
            r = identifier(s, k3)
            if r is not None:
                k, first = r
                names = [first]
                while True:
                    m = ws0(s, k)
                    m2 = tag(s, m, ",")
                    if m2 is None:
                        break
                    m = ws0(s, m2)
                    r = identifier(s, m)
                    if r is None:
                        break
                    k, nm = r
                    names.append(nm)
                i = k
                yield_clause = names
    return (i, CallClause(procedure=procedure, yield_clause=yield_clause))


# --------------------------------------------------------------------------
# UNWIND + the SET/UNWIND property-value grammar (clauses.rs:640-802)
# --------------------------------------------------------------------------

def parameter(s: str, i: int):
    j = tag(s, i, "$")
    if j is None:
        return None
    r = identifier(s, j)
    if r is None:
        return None
    return r


def unwind_clause(s: str, i: int):
    i = ws0(s, i)
    j = tag(s, i, "UNWIND")
    if j is None:
        return None
    j = ws1(s, j)
    if j is None:
        return None
    i = j

    def _as_var(k):
        k2 = ws1(s, k)
        if k2 is None:
            return None
        k2 = tag(s, k2, "AS")
        if k2 is None:
            return None
        k2 = ws1(s, k2)
        if k2 is None:
            return None
        return identifier(s, k2)

    r = parameter(s, i)
    if r is not None:
        k, param = r
        r2 = _as_var(k)
        if r2 is not None:
            k, var = r2
            return (k, UnwindClause(UnwindExpression(kind="parameter", value=param), var))
        return None
    # Each branch below mirrors an `if let Ok(...)` block in the reference:
    # once the expression matches, the `AS var` suffix is mandatory and its
    # failure fails the whole clause (`?` propagation), no fallthrough.
    r = property_value(s, i)
    if r is not None and r[1].kind == "list":
        k, value = r
        r2 = _as_var(k)
        if r2 is None:
            return None
        k, var = r2
        return (k, UnwindClause(UnwindExpression(kind="list", value=value.value), var))
    r = function_call(s, i)
    if r is not None:
        k, (fn, args) = r
        r2 = _as_var(k)
        if r2 is None:
            return None
        k, var = r2
        return (
            k,
            UnwindClause(
                UnwindExpression(
                    kind="function_call",
                    name=fn,
                    args=[PropertyValue.string(a) for a in args],
                ),
                var,
            ),
        )
    r = property_access(s, i)
    if r is not None:
        k, acc = r
        r2 = _as_var(k)
        if r2 is None:
            return None
        k, var = r2
        return (k, UnwindClause(UnwindExpression(kind="identifier", value=acc), var))
    r = identifier(s, i)
    if r is not None:
        k, name = r
        r2 = _as_var(k)
        if r2 is None:
            return None
        k, var = r2
        return (k, UnwindClause(UnwindExpression(kind="identifier", value=name), var))
    return None


def _primitive_value(s: str, i: int):
    # shared alt for list items and map values (clauses.rs:747-756, :769-778):
    # string | number | true | false | NULL | parameter
    r = string_literal_local(s, i)
    if r is not None:
        return (r[0], PropertyValue.string(r[1]))
    r = numeric_literal(s, i)
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
        i2 = j
        items = []
        r = _primitive_value(s, i2)
        if r is not None:
            i2, v = r
            items.append(v)
            while True:
                k = ws0(s, i2)
                k2 = tag(s, k, ",")
                if k2 is None:
                    break
                k = ws0(s, k2)
                r = _primitive_value(s, k)
                if r is None:
                    break
                i2, v = r
                items.append(v)
        j = tag(s, i2, "]")
        if j is None:
            return None
        return (j, PropertyValue.list_(items))
    j = tag(s, i, "{")
    if j is not None:
        i2 = j
        pairs = {}
        r = _map_pair(s, i2)
        if r is not None:
            i2, (k_, v) = r
            pairs[k_] = v
            while True:
                k = ws0(s, i2)
                k2 = tag(s, k, ",")
                if k2 is None:
                    break
                k = ws0(s, k2)
                r = _map_pair(s, k)
                if r is None:
                    break
                i2, (k_, v) = r
                pairs[k_] = v
        j = tag(s, i2, "}")
        if j is None:
            return None
        return (j, PropertyValue.map_(pairs))
    # primitive alt (clauses.rs:790-800): string, identifier→String, number,
    # true, false, NULL, parameter
    r = string_literal_local(s, i)
    if r is not None:
        return (r[0], PropertyValue.string(r[1]))
    r = identifier(s, i)
    if r is not None:
        return (r[0], PropertyValue.string(r[1]))
    r = numeric_literal(s, i)
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
    """alt in order WITH, WHERE, MATCH, RETURN, MERGE, CREATE, UNWIND, CALL.

    Spanned.start is always 0 — reference quirk Q8 (clauses.rs:809-811
    computes the offset against the slice handed to clause() itself).
    """
    for kind, parser in _CLAUSE_PARSERS:
        r = parser(s, i)
        if r is not None:
            j, value = r
            if kind == K_MATCH and getattr(value, "is_optional", False):
                kind_eff = K_OPTIONAL_MATCH
            else:
                kind_eff = kind
            return (j, Spanned(value=(kind_eff, value), start=0))
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
        i, spanned = r
        clauses.append(spanned)
    i = ws0(s, i)
    if i < len(s):
        raise ParseFail("Verify", s[i:])
    if validate_clause_order(clauses) is not None:
        raise ParseFail("Tag", s)
    if not clauses:
        raise ParseFail("Tag", s)
    return _bucket_clauses(clauses)


def _bucket_clauses(clauses) -> Query:
    query = Query()
    for spanned in clauses:
        kind, value = spanned.value
        if kind in (K_MATCH, K_OPTIONAL_MATCH):
            query.match_clauses.append(value)
        elif kind == K_MERGE:
            query.merge_clauses.append(value)
        elif kind == K_CREATE:
            query.create_clauses.append(value)
        elif kind == K_WITH:
            query.with_clauses.append(value)
        elif kind == K_WHERE:
            query.where_clauses.append(value)
        elif kind == K_RETURN:
            query.return_clauses.append(value)
        elif kind == K_UNWIND:
            query.unwind_clauses.append(value)
        elif kind == K_CALL:
            query.call_clauses.append(value)
    return query


# 8-state FSM (clauses.rs:939-1111). Returns None when valid, or an opaque
# reason string when invalid — parse_query always degrades the reason to a
# Tag error (reference behavior; the specific variants never surface).
_INITIAL = "Initial"
_AFTER_MATCH = "AfterMatch"
_AFTER_UNWIND = "AfterUnwind"
_AFTER_WHERE = "AfterWhere"
_AFTER_WITH = "AfterWith"
_AFTER_RETURN = "AfterReturn"
_AFTER_WRITE = "AfterWrite"
_AFTER_CALL = "AfterCall"

_MATCHY = (K_MATCH, K_OPTIONAL_MATCH)
_WRITE = (K_CREATE, K_MERGE)

_TRANSITIONS = {
    _INITIAL: {
        **{k: _AFTER_MATCH for k in _MATCHY},
        K_UNWIND: _AFTER_UNWIND,
        **{k: _AFTER_WRITE for k in _WRITE},
        K_CALL: _AFTER_CALL,
    },
    _AFTER_MATCH: {
        **{k: _AFTER_MATCH for k in _MATCHY},
        K_UNWIND: _AFTER_UNWIND,
        K_WHERE: _AFTER_WHERE,
        K_WITH: _AFTER_WITH,
        K_RETURN: _AFTER_RETURN,
        **{k: _AFTER_WRITE for k in _WRITE},
        K_CALL: _AFTER_CALL,
    },
    # NB: no MATCH transition after UNWIND (clauses.rs:986-994) — reproduced.
    _AFTER_UNWIND: {
        K_UNWIND: _AFTER_UNWIND,
        K_WHERE: _AFTER_WHERE,
        K_WITH: _AFTER_WITH,
        K_RETURN: _AFTER_RETURN,
        **{k: _AFTER_WRITE for k in _WRITE},
        K_CALL: _AFTER_CALL,
    },
    _AFTER_WHERE: {
        **{k: _AFTER_MATCH for k in _MATCHY},
        K_WHERE: _AFTER_WHERE,
        K_UNWIND: _AFTER_UNWIND,
        K_WITH: _AFTER_WITH,
        K_RETURN: _AFTER_RETURN,
        **{k: _AFTER_WRITE for k in _WRITE},
        K_CALL: _AFTER_CALL,
    },
    _AFTER_WITH: {
        **{k: _AFTER_MATCH for k in _MATCHY},
        K_UNWIND: _AFTER_UNWIND,
        K_WHERE: _AFTER_WHERE,
        K_WITH: _AFTER_WITH,
        K_RETURN: _AFTER_RETURN,
        **{k: _AFTER_WRITE for k in _WRITE},
        K_CALL: _AFTER_CALL,
    },
    _AFTER_CALL: {
        K_WHERE: _AFTER_WHERE,
        K_WITH: _AFTER_WITH,
        K_RETURN: _AFTER_RETURN,
        **{k: _AFTER_WRITE for k in _WRITE},
        K_CALL: _AFTER_CALL,
    },
    # CREATE/MERGE allowed after RETURN (clauses.rs:1033-1035)
    _AFTER_RETURN: {k: _AFTER_WRITE for k in _WRITE},
    _AFTER_WRITE: {
        **{k: _AFTER_WRITE for k in _WRITE},
        K_RETURN: _AFTER_RETURN,
        K_WITH: _AFTER_WITH,
    },
}


def validate_clause_order(clauses):
    """None when the order is valid, else a reason string (always degraded
    to a Tag error by the callers — clauses.rs:882-888, :534-540)."""
    if not clauses:
        return None
    state = _INITIAL
    for spanned in clauses:
        kind, _ = spanned.value
        nxt = _TRANSITIONS[state].get(kind)
        if nxt is None:
            return f"invalid transition: {state} + {kind}"
        state = nxt
    if state == _INITIAL:
        return "missing reading clause"
    if state == _AFTER_WITH:
        return "query may not end after WITH"
    return None
