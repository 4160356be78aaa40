"""Differential tests: the codegen-MERGE template recognizer
(guard/parser/template.py) against the full recursive-descent parser.

The recognizer may decline any input (None → full parser), but whatever it
accepts must yield exactly the AST, and therefore the verdict, of the full
parser. Pipeline-emitted batches must stay on the fast path; that coverage
check lives with the pipeline fixture in test_pipeline.py.
"""

from __future__ import annotations

import json
import re
from pathlib import Path
from unittest import mock

import pytest

hypothesis = pytest.importorskip("hypothesis")

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from cypher_guard_spark.guard import api  # noqa: E402
from cypher_guard_spark.guard.parser import clauses as C  # noqa: E402
from cypher_guard_spark.guard.parser.clauses import _parse_full  # noqa: E402
from cypher_guard_spark.guard.parser.template import parse_codegen_merge  # noqa: E402
from cypher_guard_spark.pipeline.synth import pipeline_db_schema  # noqa: E402

GOLDEN = json.loads((Path(__file__).parent / "golden/verdicts.json").read_text())
SCHEMA = pipeline_db_schema()


def _verdict(s: str):
    ast, perr, verrors = api.analyze(s, SCHEMA)
    return ast, perr, [(e.code, e.message) for e in verrors]


def _full_verdict(s: str):
    with mock.patch.object(C, "parse_query", _parse_full):
        return _verdict(s)


def test_golden_queries_declined_or_equal():
    for entry in GOLDEN:
        q = entry["cypher"]
        ast = parse_codegen_merge(q)
        assert ast is None or ast == _parse_full(q), entry["query_id"]


def test_word_class_is_identifier_class():
    """The recognizer's unicode \\w is exactly utils.identifier's
    ``isalnum() or '_'`` on every code point."""
    word = re.compile(r"\w")
    mismatched = [
        hex(cp)
        for cp in range(0x110000)
        if (word.fullmatch(chr(cp)) is not None) != (chr(cp) == "_" or chr(cp).isalnum())
    ]
    assert mismatched == []


RECOGNIZED = [
    "MERGE (p:Person {firstName: 'Ann', lastName: ''})",
    "MERGE (a:Person {firstName: 'Jo', lastName: 'Lee'})-[:KNOWS]->"
    "(b:Person {firstName: 'Al', lastName: 'Ng'})\n"
    "MERGE (c:Company {companyName: 'Acme \"Co\" *+{}[] MERGE WHERE'})",
    "MERGE (\u00e9:L\u00e9 {k\u0663: 'e\u0301\u0663\r'})-[:T\u0663]->(b:Company {companyName: ''})",
    "MERGE (123:Company {companyName: 'x'})",
    "MERGE (WHERE:MERGE {RETURN: 'SET'})-[:MATCH]->(ON:CREATE {city: 'x'})",
]

DECLINED = [
    # the full parser's QPP scan counts parens inside literals
    "MERGE (a:X {k: 'x)+'})",
    "MERGE (a:X {k: 'x(y'})",
    "MERGE (a:X {k: 'x'})\n",
    "MERGE (a:X {k: 'x'})\r\nMERGE (b:X {k: 'y'})",
    "MERGE (a:X {k: 'x'}) ON CREATE SET a.k = 'y'",
    "MERGE (a:X {k: 'x'})-[:T]-(b:X {k: 'y'})",
    "MERGE (a:X {k: 'x'})<-[:T]-(b:X {k: 'y'})",
    "MERGE (a:X {k: 'x', l: 'y', m: 'z'})",
    "MERGE (a:X {k: 1})",
    "MERGE (a:X {k: \"x\"})",
    "MERGE (a:X  {k: 'x'})",
    # a combining mark is neither alphanumeric nor a word character
    "MERGE (a\u0301:X {k: 'x'})",
    "MERGE (a:X {k: 'x'})\nMATCH (n) RETURN n",
    "",
]


@pytest.mark.parametrize("q", RECOGNIZED)
def test_recognized_examples_equal_full_parser(q):
    assert parse_codegen_merge(q) is not None
    assert _verdict(q) == _full_verdict(q)


@pytest.mark.parametrize("q", DECLINED)
def test_declined_examples_fall_back(q):
    assert parse_codegen_merge(q) is None
    assert _verdict(q) == _full_verdict(q)


_KEYWORDS = ["MERGE", "WHERE", "RETURN", "KNOWS", "Person", "firstName", "city"]
identifiers = st.one_of(
    st.sampled_from(_KEYWORDS),
    st.text(alphabet="aZ_09\u00e9\u0663", min_size=1, max_size=5),
)
# literal text the recognizer must accept; every char but ' ( ) and newline
literals = st.lists(
    st.sampled_from(["x", "Ann Lee", "\u00e9", "\u0663", "\u0301", "MERGE ", " WHERE",
                     "*", "+", "{}", "[]", '"', "\r", ", k: ", "-[:T]->", "ON CREATE"]),
    max_size=4,
).map("".join)
# spliced anywhere into a batch: most take it off the fast path
_HOSTILE = ["(", ")", "x)+", "x(y", "'", "''", "\n", "\r", " ", "\u0301", "*", "{", "]", ":"]


@st.composite
def nodes(draw):
    props = ", ".join(
        f"{draw(identifiers)}: '{draw(literals)}'"
        for _ in range(draw(st.integers(1, 2)))
    )
    return f"({draw(identifiers)}:{draw(identifiers)} {{{props}}})"


@st.composite
def batches(draw):
    stmts = []
    for _ in range(draw(st.integers(1, 4))):
        stmt = "MERGE " + draw(nodes())
        if draw(st.booleans()):
            stmt += f"-[:{draw(identifiers)}]->" + draw(nodes())
        stmts.append(stmt)
    q = "\n".join(stmts)
    if draw(st.booleans()):
        k = draw(st.integers(0, len(q)))
        q = q[:k] + draw(st.sampled_from(_HOSTILE)) + q[k:]
    return q


@settings(max_examples=800, deadline=None)
@given(batches())
def test_codegen_shaped_batches_match_full_parser(q):
    assert _verdict(q) == _full_verdict(q)
