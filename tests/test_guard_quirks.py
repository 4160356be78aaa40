"""Quirk catalogue tests — SURVEY.md §2.6, one test per landmine.

These freeze reference behaviors that a "reasonable" implementation would
get wrong: verdict parity includes the reference's bugs.
"""

import pytest

from cypher_guard_spark.guard import (
    DbSchema,
    api,
    get_cypher_validation_errors,
    has_valid_cypher,
    is_write,
)
from cypher_guard_spark.guard.errors import (
    InvalidClauseOrder,
    MissingRequiredClause,
    NomParsingError,
)


@pytest.fixture(scope="module")
def pschema():
    return DbSchema.from_dict(
        {
            "node_props": {
                "Person": [
                    {"name": "name", "neo4j_type": "STRING"},
                    {"name": "age", "neo4j_type": "INTEGER"},
                ]
            },
            "rel_props": {"KNOWS": [{"name": "since", "neo4j_type": "DATE_TIME"}]},
            "relationships": [{"start": "Person", "end": "Person", "rel_type": "KNOWS"}],
            "metadata": {"constraint": [], "index": []},
        }
    )


# Q1 — `<=`, `>=`, `==` break parsing (operator alt lists "<" before "<=")
@pytest.mark.parametrize("op", ["<=", ">=", "=="])
def test_q1_broken_comparison_operators(op, pschema):
    q = f"MATCH (a:Person) WHERE a.age {op} 30 RETURN a.name"
    assert api.has_parser_errors(q) is True
    assert get_cypher_validation_errors(q, pschema) == ["Invalid Cypher syntax"]


def test_q1_working_operators(pschema):
    for op in ["=", "<>", "<", ">"]:
        q = f"MATCH (a:Person) WHERE a.age {op} 30 RETURN a.name"
        assert api.has_parser_errors(q) is False, op


# Q2 — keyword case sensitivity: only MATCH/OPTIONAL are case-insensitive
def test_q2_match_case_insensitive(pschema):
    assert has_valid_cypher("match (p:Person) RETURN p.name", pschema) is True
    assert has_valid_cypher("Match (p:Person) RETURN p.name", pschema) is True
    assert has_valid_cypher("optional match (p:Person) RETURN p.name", pschema) is True


def test_q2_return_case_sensitive(pschema):
    assert api.has_parser_errors("MATCH (p:Person) return p.name") is True
    assert api.has_parser_errors("merge (x:Person {name: 'A'})") is True
    assert api.has_parser_errors("MATCH (p:Person) where p.age > 1 RETURN p.name") is True


def test_q2_bool_null_case_insensitive(pschema):
    q = "MERGE (a:Person {name: 'A'}) ON CREATE SET a.age = TRUE"
    assert api.has_parser_errors(q) is False


# Q3 — unlabeled-node sequences emit no direction error
def test_q3_unlabeled_direction_check_skipped(pschema):
    q = "MATCH (a)-[:KNOWS]-(b) RETURN a.name"
    errors = get_cypher_validation_errors(q, pschema)
    assert not any("direction" in e for e in errors)


# Q4 — direction check skips rel types absent from the schema
def test_q4_unknown_rel_type_direction_skipped(pschema):
    q = "MATCH (a:Person)<-[:NOPE]-(b:Person) RETURN a.name"
    errors = get_cypher_validation_errors(q, pschema)
    assert any(e == "Invalid relationship type: NOPE" for e in errors)
    assert not any("direction" in e for e in errors)


# Q5 — property-access check is global; comparisons are binding-aware
def test_q5_global_property_access(pschema):
    # `since` exists on KNOWS, so b.since passes the global check even
    # though b is a Person
    q = "MATCH (a:Person)-[r:KNOWS]->(b:Person) RETURN b.since"
    assert get_cypher_validation_errors(q, pschema) == []


def test_q5_binding_aware_comparison(pschema):
    # comparison path IS binding-aware: b bound to Person, `since` not on Person
    q = "MATCH (a:Person)-[r:KNOWS]->(b:Person) WHERE b.since = 'x' RETURN a.name"
    errors = get_cypher_validation_errors(q, pschema)
    assert "Invalid property access 'b.since' in property comparison clause" in errors


# Q6 — RETURN `a.name AS n` records property "name AS n" (global check fails)
def test_q6_return_alias_property_split(pschema):
    q = "MATCH (a:Person) RETURN a.name AS n"
    errors = get_cypher_validation_errors(q, pschema)
    assert errors == ["Invalid property access 'a.name AS n' in RETURN clause clause"]


def test_q6_bare_function_call_is_referenced_variable(pschema):
    # `count(p)` has no space/dot → recorded as a referenced variable
    q = "MATCH (p:Person) RETURN count(p)"
    errors = get_cypher_validation_errors(q, pschema)
    assert errors == ["Undefined variable: count(p)"]


def test_q6_function_call_with_alias_passes(pschema):
    # "count(p) AS total" contains a space → skipped entirely
    q = "MATCH (p:Person) RETURN count(p) AS total"
    assert get_cypher_validation_errors(q, pschema) == []


# Q7 — lib.rs heuristics are substring-based (false positives reproduced)
def test_q7_heuristic_misattributes_unwind_then_match():
    # The FSM rejects MATCH after UNWIND (clauses.rs has no such transition);
    # the heuristic then sees the UNWIND substring before MATCH and blames
    # "UNWIND must come after a reading clause" — the wrong diagnosis,
    # faithfully reproduced.
    with pytest.raises(InvalidClauseOrder) as ei:
        api.check_syntax("UNWIND [1] AS x MATCH (n:Person) RETURN n")
    assert "UNWIND must come after a reading clause" in str(ei.value)


def test_q7_verify_errors_skip_heuristics():
    # Non-Tag (Verify) errors never reach the heuristic ladder, even when
    # the query contains misleading substrings.
    with pytest.raises(NomParsingError):
        api.check_syntax("WITHX MATCH")


def test_q7_match_with_no_return():
    with pytest.raises(MissingRequiredClause) as ei:
        api.check_syntax("MATCH (a:Person) WITH a")
    assert "RETURN or writing clause" in str(ei.value)


# Q9 — clause-order violations inside CALL {} degrade to a plain nom error
def test_q9_subquery_order_violation_degrades():
    q = "CALL { RETURN a MATCH (a:Person) } RETURN a"
    with pytest.raises((NomParsingError, InvalidClauseOrder)):
        api.check_syntax(q)


# Q10 — two property_value grammars: booleans not allowed in pattern maps
def test_q10_boolean_in_pattern_map_is_parse_error(pschema):
    assert api.has_parser_errors("MATCH (n:Person {active: true}) RETURN n.name") is True
    # but fine in SET values
    assert (
        api.has_parser_errors("MERGE (n:Person {name: 'A'}) ON CREATE SET n.age = true")
        is False
    )


def test_q10_string_number_fine_in_pattern_map(pschema):
    assert api.has_parser_errors("MATCH (n:Person {age: 30, name: 'A'}) RETURN n.name") is False


# Q11 — error ordering: check rank determines the first error
def test_q11_check_order(pschema):
    # undefined variable (①) ranks before invalid label (②)
    q = "MATCH (a:Nope) RETURN zz.name"
    errors = get_cypher_validation_errors(q, pschema)
    assert errors[0].startswith("Undefined variable")
    assert "Invalid node label: Nope" in errors


def test_q11_duplicate_label_error_when_props_present(pschema):
    # unknown label with a property map errors twice (checks ② and ⑤)
    q = "MATCH (a:Nope {x: 1}) RETURN a.name"
    errors = get_cypher_validation_errors(q, pschema)
    assert errors.count("Invalid node label: Nope") == 2


# Q12 — unsupported Cypher surfaces as syntax errors
@pytest.mark.parametrize(
    "query",
    [
        "MATCH (n:Person) RETURN n ORDER BY n.name",
        "MATCH (n:Person) RETURN n LIMIT 10",
        "MATCH (n:Person) RETURN n SKIP 5",
        "MATCH (n:Person) DELETE n",
        "MATCH (n:Person) REMOVE n.age",
        "MATCH (n:Person) SET n.age = 30",
        "MATCH (n:Person) WHERE n.name STARTS WITH 'A' RETURN n",
        "MATCH (n:Person) WHERE n.name CONTAINS 'x' RETURN n",
        "MATCH (n:Person) WHERE n.age IN [1,2] RETURN n",
        "MATCH (n:Person:Employee) RETURN n",
        "MATCH (n:Person) WHERE n.name =~ 'A.*' RETURN n",
        "FOREACH (x IN [1,2] | SET x.y = 1)",
    ],
)
def test_q12_unsupported_cypher_is_syntax_error(query):
    assert api.has_parser_errors(query) is True


# tag_no_case parity: nom 7 compares char::to_lowercase char by char, so
# 'ı' (U+0131) does not match 'I' nor 'ſ' (U+017F) 'S', though both
# upper-case to them
@pytest.mark.parametrize(
    "query,errors",
    [
        ("OPTıONAL MATCH (n:Person) RETURN n", ["Invalid Cypher syntax"]),
        ("MATCH (n:Person) WHERE n.name = falſe RETURN n", ["Undefined variable: falſe"]),
    ],
    ids=["dotless-i", "long-s"],
)
def test_tag_no_case_compares_lowercase(query, errors, schema):
    assert get_cypher_validation_errors(query, schema) == errors


# is_write substring false positive (python_bindings lib.rs:1676-1683)
def test_is_write_substring_false_positive():
    assert is_write("MATCH (removed:Person) RETURN removed.name") is True


def test_is_write_basics():
    assert is_write("MATCH (n:Person) RETURN n.name") is False
    assert is_write("CREATE (n:Person)") is True
    assert is_write("MERGE (n:Person {name: 'A'})") is True
    assert is_write("CALL db.labels()") is True  # CALL counts as write


# Spanned/line-column helper parity
def test_offset_to_line_column():
    from cypher_guard_spark.guard.ast import offset_to_line_column

    text = "MATCH (n)\nRETURN n"
    assert offset_to_line_column(text, 0) == (1, 1)
    assert offset_to_line_column(text, 10) == (2, 1)
    assert offset_to_line_column(text, 9) == (2, 1)  # the newline itself
    assert offset_to_line_column(text, 1000) == (2, 9)
