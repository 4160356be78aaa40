"""Seeded inputs for the guard workloads, each with its known answer.

``merge_batches`` renders statements in exactly the grammar that
``pipeline.codegen`` emits (the self-test checks the forms against
``build_merge_batches``), at the statement mix measured on real pipeline
output. A seeded tenth of the batches carry one injected schema error whose
verdict is known from the kind of injection, so the refusal path is timed
and checked too.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass
from pathlib import Path

from cypher_guard_spark.pipeline.synth import CITIES, COMPANIES, people

STATEMENTS_PER_BATCH = 50
N_MERGE_BATCHES = 400
INVALID_SHARE = 0.10
NODE_SHARE = 0.02
# relationship-type weights measured on pipeline output (shares of rel MERGEs)
REL_WEIGHTS = (("KNOWS", 79.0), ("WORKS_FOR", 19.0), ("LOCATED_IN", 2.5))
REL_ENDS = {
    "KNOWS": ("Person", "Person"),
    "WORKS_FOR": ("Person", "Company"),
    "LOCATED_IN": ("Company", "Location"),
}

# injected schema errors: (statement rewrite, the guard's one known message)
_BAD_REL = {"KNOWS": "KNOWS_WELL", "WORKS_FOR": "WORKED_FOR", "LOCATED_IN": "BASED_IN"}
_BAD_KEY = {"Person": "givenName", "Company": "name", "Location": "town"}
INJECTIONS = ("rel_type", "node_property", "direction")
ENTITIES = {"Person": people(), "Company": list(COMPANIES), "Location": list(CITIES)}


@dataclass(frozen=True)
class MergeBatch:
    cypher: str
    n_statements: int
    expected_errors: tuple  # ((code, message), ...) — empty when valid


def _clean(s: str) -> str:
    # codegen._clean: the guard's literals have no escapes
    return s.translate({ord(c): None for c in "'\"\n\r"})


def entity_props(label: str, surface: str, first_key: str | None = None) -> str:
    """The property map codegen renders for one entity."""
    if label == "Person":
        first, _, last = surface.partition(" ")
        return "{%s: '%s', lastName: '%s'}" % (
            first_key or "firstName", _clean(first), _clean(last))
    if label == "Company":
        return "{%s: '%s'}" % (first_key or "companyName", _clean(surface))
    return "{%s: '%s'}" % (first_key or "city", _clean(surface))


def node_statement(label: str, surface: str) -> str:
    return "MERGE (%s:%s %s)" % (label[0].lower(), label, entity_props(label, surface))


def rel_statement(subj_label, subj, pred, obj_label, obj, subj_key=None) -> str:
    return "MERGE (a:%s %s)-[:%s]->(b:%s %s)" % (
        subj_label, entity_props(subj_label, subj, subj_key), pred,
        obj_label, entity_props(obj_label, obj))




def draw_triple(rng: random.Random) -> tuple:
    """(subj_label, subj, pred, obj_label, obj) at the measured type mix."""
    pred = rng.choices([t for t, _ in REL_WEIGHTS], [w for _, w in REL_WEIGHTS])[0]
    sl, ol = REL_ENDS[pred]
    return (sl, rng.choice(ENTITIES[sl]), pred, ol, rng.choice(ENTITIES[ol]))


def _injected(rng: random.Random, kind: str) -> tuple:
    """One bad statement and the guard's known (code, message) for it."""
    if kind == "rel_type":
        sl, s, pred, ol, o = draw_triple(rng)
        bad = _BAD_REL[pred]
        return (rel_statement(sl, s, bad, ol, o),
                ("InvalidRelationshipType", f"Invalid relationship type: {bad}"))
    if kind == "node_property":
        sl, s, pred, ol, o = draw_triple(rng)
        key = _BAD_KEY[sl]
        return (rel_statement(sl, s, pred, ol, o, subj_key=key),
                ("InvalidNodeProperty", f"Invalid node property '{key}' on label '{sl}'"))
    # direction: a typed relationship with its endpoints swapped
    pred = rng.choice(("WORKS_FOR", "LOCATED_IN"))
    sl, ol = REL_ENDS[pred]
    s, o = rng.choice(ENTITIES[sl]), rng.choice(ENTITIES[ol])
    return (rel_statement(ol, o, pred, sl, s),
            ("InvalidRelationship",
             f"Invalid relationship: Relationship '{pred}' direction mismatch: "
             f"expected {sl}->{ol}, got {ol}->{sl}"))


def merge_batches(seed: int, n_batches: int = N_MERGE_BATCHES) -> list:
    """Seeded codegen-grammar MERGE batches with known verdicts."""
    rng = random.Random(seed)
    out = []
    for _ in range(n_batches):
        stmts = []
        for _ in range(STATEMENTS_PER_BATCH):
            if rng.random() < NODE_SHARE:
                label = rng.choice(tuple(ENTITIES))
                stmts.append(node_statement(label, rng.choice(ENTITIES[label])))
            else:
                stmts.append(rel_statement(*draw_triple(rng)))
        expected = ()
        if rng.random() < INVALID_SHARE:
            bad, err = _injected(rng, rng.choice(INJECTIONS))
            stmts[rng.randrange(len(stmts))] = bad
            expected = (err,)
        # codegen joins each batch's statements in sorted order
        out.append(MergeBatch("\n".join(sorted(stmts)), len(stmts), expected))
    return out


@dataclass(frozen=True)
class CorpusQuery:
    query_id: str
    cypher: str
    schema: str  # "unit" | "eval"
    parse_ok: bool
    exception_class: str | None
    is_write: bool | None
    error_messages: tuple  # checked only for unit-schema entries


def golden_corpus(root: Path, seed: int) -> list:
    """The 318 golden queries, in a seed-chosen order."""
    entries = json.loads((root / "tests/golden/verdicts.json").read_text())
    out = [
        CorpusQuery(
            e["query_id"], e["cypher"], e.get("schema", "eval"), e["parse_ok"],
            e.get("exception_class"), e.get("is_write"), tuple(e["error_messages"]),
        )
        for e in entries
    ]
    random.Random(seed).shuffle(out)
    return out
