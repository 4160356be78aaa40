"""Golden verdict corpus — regression lock for parser/validator behavior.

tests/golden/verdicts.json is produced by scripts/freeze_golden.py over the
reference's own eval query texts + the SURVEY §2.6 quirk queries (both
evaluated against the reference eval schema) + the reference-unit-test
queries (evaluated against tests/golden/unit_schema.json, the
test_validation.py fixture schema; their expected verdicts are additionally
anchored to the reference's own test assertions by
tests/test_reference_expectations.py). Any behavior drift in the guard
shows up here as a verdict or error-string diff.
"""

import hashlib
import json
from pathlib import Path

import pytest

from cypher_guard_spark.guard import DbSchema, api

GOLDEN = json.loads((Path(__file__).parent / "golden/verdicts.json").read_text())
EVAL_SCHEMA_PATH = Path("/root/reference/data/schema/eval_schema.json")
N_EVAL_PARSED = sum(1 for e in GOLDEN if e.get("schema") != "unit" and e["parse_ok"])


@pytest.fixture(scope="module")
def eval_schema():
    if not EVAL_SCHEMA_PATH.exists():
        pytest.skip(
            f"the {N_EVAL_PARSED} parsed eval-schema cases need the reference's "
            "eval_schema.json, which is not in the repo"
        )
    return DbSchema.from_dict(json.loads(EVAL_SCHEMA_PATH.read_text()))


@pytest.fixture(scope="module")
def unit_schema():
    return DbSchema.from_dict(
        json.loads((Path(__file__).parent / "golden/unit_schema.json").read_text())
    )


@pytest.mark.parametrize("entry", GOLDEN, ids=[e["query_id"] for e in GOLDEN])
def test_golden_parse(entry):
    # the schema-free half of each verdict, so every case runs on every host
    cypher = entry["cypher"]
    ast, perr = api.parse_query_result(cypher)
    assert (perr is None) == entry["parse_ok"], f"parse_ok drift for {entry['query_id']}"
    if perr is not None:
        assert perr.code == entry["exception_class"]
        assert entry["error_messages"] == ["Invalid Cypher syntax"]
        assert not entry["has_valid_cypher"]
    else:
        assert api.is_write(cypher) == entry["is_write"]


PARSED = [e for e in GOLDEN if e["parse_ok"]]


@pytest.mark.parametrize("entry", PARSED, ids=[e["query_id"] for e in PARSED])
def test_golden_verdict(entry, unit_schema, request):
    # only the eval-schema cases request the reference's schema, so the
    # unit-schema cases run on every host
    if entry.get("schema") == "unit":
        schema = unit_schema
    else:
        schema = request.getfixturevalue("eval_schema")
    errors = sorted(api.get_cypher_validation_errors(entry["cypher"], schema))
    assert errors == entry["error_messages"]
    assert (not errors) == entry["has_valid_cypher"]


def test_corpus_summary():
    # frozen at freeze time; a count drift means the corpus itself changed
    assert len(GOLDEN) == 318
    assert sum(1 for e in GOLDEN if e["parse_ok"]) == 103
    assert sum(1 for e in GOLDEN if e["has_valid_cypher"]) == 69
    assert sum(1 for e in GOLDEN if e.get("source") == "unittest") == 65


PARSE_DIGESTS = json.loads((Path(__file__).parent / "golden/parse_digests.json").read_text())


def parse_digest(cypher: str) -> str:
    """sha256 of one query's parse result: the AST's dataclass repr, or the
    parse error's code and message."""
    ast, perr = api.parse_query_result(cypher)
    text = repr(ast) if perr is None else f"{perr.code}: {perr.message}"
    return hashlib.sha256(text.encode()).hexdigest()


def test_parse_digests():
    # tests/golden/parse_digests.json maps every golden query_id to
    # parse_digest(cypher); any drift in what the parser builds or reports
    # shows up here, on every host and independently of any schema
    assert len(PARSE_DIGESTS) == len(GOLDEN)
    changed = [e["query_id"] for e in GOLDEN if parse_digest(e["cypher"]) != PARSE_DIGESTS[e["query_id"]]]
    assert not changed, f"parse result changed for: {changed}"
