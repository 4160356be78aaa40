"""Public API — 1:1 with the reference bindings.

- parse_query:                    rust/cypher_guard/src/lib.rs:31-117
  (including the substring heuristics that upgrade clause-order Tag errors)
- validate_cypher_with_schema:    lib.rs:122-141 (first error only)
- get_cypher_validation_errors:   lib.rs:144-167 (all errors; parse failure
  → ["Invalid Cypher syntax"])
- check_syntax / validate_cypher / has_valid_cypher / is_write /
  has_parser_errors: rust/python_bindings/src/lib.rs:1536-1711
"""

from __future__ import annotations

from typing import List, Optional, Tuple, Union

from . import errors as E
from .ast import Query
from .extract import extract_query_elements
from .parser import clauses as C
from .parser.clauses import ParseFail
from .schema import DbSchema
from .validate import validate_query_elements


def _coerce_schema(schema: Union[DbSchema, str, dict]) -> DbSchema:
    if isinstance(schema, DbSchema):
        return schema
    if isinstance(schema, str):
        return DbSchema.from_json_string(schema)
    if isinstance(schema, dict):
        return DbSchema.from_dict(schema)
    raise TypeError(f"schema must be DbSchema | str | dict, got {type(schema)}")


def _heuristic_error(query: str) -> Optional[E.ParsingError]:
    """lib.rs:44-112 — substring-position decision ladder for Tag errors.

    Deliberately replicates the reference's false positives: the searches
    are raw case-sensitive substring finds over the whole query (they match
    inside string literals and identifiers too).
    """
    if "RETURN" in query and "MATCH" in query and query.find("RETURN") < query.find("MATCH"):
        return E.clause_order_error("ReturnBeforeOtherClauses")
    if "WHERE" in query and "MATCH" in query and query.find("WHERE") < query.find("MATCH"):
        return E.clause_order_error("WhereBeforeMatch")
    if "WITH" in query and "MATCH" in query and query.find("WITH") < query.find("MATCH"):
        return E.invalid_clause_order(
            "query start",
            "WITH must come after a reading clause (MATCH, UNWIND, CREATE, MERGE)",
        )
    if "UNWIND" in query and "MATCH" in query and query.find("UNWIND") < query.find("MATCH"):
        return E.invalid_clause_order(
            "query start",
            "UNWIND must come after a reading clause (MATCH, UNWIND, CREATE, MERGE)",
        )
    last_return = query.rfind("RETURN")
    if last_return != -1:
        tail = query[last_return:]
        if tail.find("MATCH") > 0:
            return E.clause_order_error("MatchAfterReturn")
        if tail.find("WHERE") > 0:
            return E.invalid_clause_order(
                "after RETURN", "WHERE cannot come after RETURN clause"
            )
        if tail.find("WITH") > 0:
            return E.clause_order_error("WithAfterReturn")
        if tail.find("UNWIND") > 0:
            return E.clause_order_error("UnwindAfterReturn")
    if (
        "MATCH" in query
        and "WITH" in query
        and "RETURN" not in query
        and query.find("WITH") > query.find("MATCH")
    ):
        return E.missing_required_clause("RETURN or writing clause")
    return None


def parse_query_result(query: str) -> Tuple[Optional[Query], Optional[E.ParsingError]]:
    """Parse; on failure return (None, ParsingError) instead of raising."""
    try:
        ast = C.parse_query(query)
        return (ast, None)
    except ParseFail as pf:
        if pf.kind == "Tag":
            upgraded = _heuristic_error(query)
            if upgraded is not None:
                return (None, upgraded)
        return (None, E.nom_parsing_error(pf.kind, pf.remaining))


def parse_query(query: str) -> Query:
    """lib.rs:31-117 parity: returns the AST or raises a typed parsing error."""
    ast, err = parse_query_result(query)
    if err is not None:
        raise err.to_exception()
    return ast


def check_syntax(query: str) -> bool:
    """python_bindings/src/lib.rs:1584-1600."""
    parse_query(query)
    return True


def analyze(query: str, schema):
    """Single-parse structured analysis: (ast|None, parse_error|None, [ValidationError]).

    The hot path for the vectorized UDF — parses exactly once — and the one
    coerce → parse → extract → validate pipeline the functions below read.
    """
    db = _coerce_schema(schema)
    ast, err = parse_query_result(query)
    if err is not None:
        return (None, err, [])
    elements = extract_query_elements(ast)
    return (ast, None, validate_query_elements(elements, db))


def get_cypher_validation_errors(query: str, schema) -> List[str]:
    """lib.rs:144-167 — all error strings; parse failure → ["Invalid Cypher syntax"]."""
    _, err, errors = analyze(query, schema)
    if err is not None:
        return ["Invalid Cypher syntax"]
    return [e.message for e in errors]


def validate_cypher(query: str, schema) -> List[str]:
    """python_bindings/src/lib.rs:1617-1633 — parse errors raise, validation
    errors are returned as strings."""
    _, err, errors = analyze(query, schema)
    if err is not None:
        raise err.to_exception()
    return [e.message for e in errors]


def validate_cypher_with_schema(query: str, schema) -> bool:
    """lib.rs:122-141 — True, or raises the FIRST error (typed)."""
    _, err, errors = analyze(query, schema)
    if err is not None:
        raise err.to_exception()
    if errors:
        raise errors[0].to_exception()
    return True


def has_valid_cypher(query: str, schema) -> bool:
    """python_bindings/src/lib.rs:1536-1557 — never raises."""
    return not get_cypher_validation_errors(query, schema)


def is_write(query: str) -> bool:
    """python_bindings/src/lib.rs:1651-1688 — `_is_write_ast` over a fresh
    parse of `query`."""
    return _is_write_ast(parse_query(query), query)


def _is_write_ast(ast, query: str) -> bool:
    """The reference's write rule on an already-parsed `query`: an AST check
    for CREATE/MERGE/CALL + ON CREATE/ON MATCH SET, plus the substring
    DELETE/REMOVE fallback on the raw text with its documented false
    positives (e.g. a variable named `removed`)."""
    has_ast_write_ops = bool(ast.create_clauses or ast.merge_clauses or ast.call_clauses)
    has_set_ops = any(
        (m.on_create is not None and m.on_create.set_clauses)
        or (m.on_match is not None and m.on_match.set_clauses)
        for m in ast.merge_clauses
    )
    upper = query.upper()
    has_string_write_ops = "DELETE" in upper or "REMOVE" in upper
    return has_ast_write_ops or has_set_ops or has_string_write_ops


def has_parser_errors(query: str) -> bool:
    """python_bindings/src/lib.rs:1705-1711 — never raises."""
    _, err = parse_query_result(query)
    return err is not None
