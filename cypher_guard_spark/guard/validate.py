"""Schema validation — the 8 checks, in order (validation.rs:529-806).

Ordering note: the reference iterates Rust HashSets (nondeterministic
within a check); we iterate in sorted order and document that. First-error
parity is by check rank, set-equality parity within a check
(SURVEY.md §2.6 Q11).
"""

from __future__ import annotations

from . import errors as E
from .ast import LEFT, RIGHT, NodePattern, QuantifiedPathPattern, RelationshipPattern
from .extract import CTX_RETURN, CTX_WHERE, CTX_WITH, QueryElements
from .schema import DbSchema

_CONTEXT_STR = {CTX_WHERE: "WHERE clause", CTX_RETURN: "RETURN clause", CTX_WITH: "WITH clause"}

# value_type ↔ neo4j_type compatibility (validation.rs:777-785): strict,
# Null/Unknown always pass.
_COMPAT = {
    "string": ("STRING",),
    "number": ("INTEGER", "FLOAT"),
    "boolean": ("BOOLEAN",),
}


def validate_query_elements(elements: QueryElements, schema: DbSchema):
    errors = []

    # ① referenced ⊆ defined (validation.rs:545-551)
    for var in sorted(elements.referenced_variables):
        if var not in elements.defined_variables:
            errors.append(E.undefined_variable(var))

    # ② node labels (validation.rs:554-558)
    for label in sorted(elements.node_labels):
        if not schema.has_label(label):
            errors.append(E.invalid_node_label(label))

    # ③ relationship types (validation.rs:561-567)
    for rel_type in sorted(elements.relationship_types):
        if not schema.has_relationship_type(rel_type):
            errors.append(E.invalid_relationship_type(rel_type))

    # ④ relationship directions (validation.rs:570-662): pair rel i with
    # *labeled* nodes i, i+1; skip rel types absent from schema; use the
    # FIRST schema pattern with that type; guard the unlabeled-node
    # underflow by requiring at least i+2 labeled nodes (quirk Q3: the
    # reference's release build effectively skips those sequences); zip
    # stops at the last rel that has both nodes.
    for pattern_sequence in elements.pattern_sequences:
        nodes = []
        relationships = []
        _collect_typed(pattern_sequence, nodes, relationships)
        for (rel_type, direction), node1, node2 in zip(relationships, nodes, nodes[1:]):
            schema_rel = schema.first_relationship_pattern(rel_type)
            if schema_rel is None:
                continue
            start, end = schema_rel.start, schema_rel.end
            if direction == RIGHT:
                if node1 != start or node2 != end:
                    errors.append(
                        E.invalid_relationship(
                            f"Relationship '{rel_type}' direction mismatch: "
                            f"expected {start}->{end}, got {node1}->{node2}"
                        )
                    )
            elif direction == LEFT:
                if node1 != end or node2 != start:
                    errors.append(
                        E.invalid_relationship(
                            f"Relationship '{rel_type}' direction mismatch: "
                            f"expected {start}->{end}, got {node2}->{node1}"
                        )
                    )
            else:  # UNDIRECTED
                ok = (node1 == start and node2 == end) or (
                    node1 == end and node2 == start
                )
                if not ok:
                    errors.append(
                        E.invalid_relationship(
                            f"Relationship '{rel_type}' invalid node combination: "
                            f"expected {start} and {end}, got {node1} and {node2}"
                        )
                    )

    # ⑤ node pattern-map properties (validation.rs:665-678); re-reports
    # InvalidNodeLabel for unknown labels that carry properties (reference
    # duplicate-error quirk).
    for label in sorted(elements.node_properties):
        if not schema.has_label(label):
            errors.append(E.invalid_node_label(label))
            continue
        for prop in sorted(elements.node_properties[label]):
            if not schema.has_node_property(label, prop):
                errors.append(E.invalid_node_property(label, prop))

    # ⑥ relationship pattern-map properties (validation.rs:681-696)
    for rel_type in sorted(elements.relationship_properties):
        if not schema.has_relationship_type(rel_type):
            errors.append(E.invalid_relationship_type(rel_type))
            continue
        for prop in sorted(elements.relationship_properties[rel_type]):
            if not schema.has_relationship_property(rel_type, prop):
                errors.append(E.invalid_relationship_property(rel_type, prop))

    # ⑦ property accesses — GLOBAL name check, not binding-aware
    # (validation.rs:699-733, quirk Q5); list order preserved.
    for access in elements.property_accesses:
        if not schema.has_property_anywhere(access.property):
            errors.append(
                E.invalid_property_access(
                    access.variable, access.property, _CONTEXT_STR[access.context]
                )
            )

    # ⑧ property comparisons — binding-aware lookup then type check
    # (validation.rs:736-803).
    for cmp_ in elements.property_comparisons:
        prop_def = None
        bound_label = elements.variable_node_bindings.get(cmp_.variable)
        bound_rel = elements.variable_relationship_bindings.get(cmp_.variable)
        if bound_label is not None:
            prop_def = schema.get_node_property(bound_label, cmp_.property)
        elif bound_rel is not None:
            prop_def = schema.get_relationship_property(bound_rel, cmp_.property)
        else:
            # global fallback: nodes first (sorted for determinism), then rels
            for label in sorted(schema.node_props):
                prop_def = schema.get_node_property(label, cmp_.property)
                if prop_def is not None:
                    break
            if prop_def is None:
                for rel_type in sorted(schema.rel_props):
                    prop_def = schema.get_relationship_property(rel_type, cmp_.property)
                    if prop_def is not None:
                        break
        if prop_def is not None:
            if cmp_.value_type in ("null", "unknown"):
                continue
            if prop_def.neo4j_type not in _COMPAT.get(cmp_.value_type, ()):
                errors.append(
                    E.invalid_property_type(
                        cmp_.variable, cmp_.property, prop_def.neo4j_type, cmp_.value
                    )
                )
        else:
            errors.append(
                E.invalid_property_access(cmp_.variable, cmp_.property, "property comparison")
            )

    return errors


def _collect_typed(elements, nodes: list, relationships: list):
    """Check ④'s inputs: append the labels of labelled nodes and the (type,
    direction) of typed relationships in pattern order; a QPP contributes
    its inner elements in place (the parser builds no nested QPP)."""
    for pe in elements:
        if isinstance(pe, NodePattern):
            if pe.label:
                nodes.append(pe.label)
        elif isinstance(pe, RelationshipPattern):
            if pe.details.rel_type:
                relationships.append((pe.details.rel_type, pe.details.direction))
        elif isinstance(pe, QuantifiedPathPattern):
            _collect_typed(pe.pattern, nodes, relationships)
