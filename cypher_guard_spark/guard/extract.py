"""Query-element extraction (rust/cypher_guard/src/validation.rs:8-526).

Produces the flat QueryElements IR that validation consumes. The string
heuristics (extract_property_access_from_string) are reproduced verbatim,
including their quirks: RETURN items with `AS` split at the first '.' so
"a.name AS n" records property "name AS n" (SURVEY.md §2.6 Q6), and bare
function calls like "count(p)" are recorded as referenced *variables*.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .ast import (
    MatchElement,
    NodePattern,
    PropertyValue,
    QuantifiedPathPattern,
    Query,
    RelationshipPattern,
    WhereCondition,
    WithExpression,
    WithItem,
)

CTX_WHERE = "where"
CTX_RETURN = "return"
CTX_WITH = "with"


@dataclass
class PropertyAccess:
    variable: str
    property: str
    context: str


@dataclass
class PropertyComparison:
    variable: str
    property: str
    value: str
    value_type: str  # string|number|boolean|null|unknown


@dataclass
class QueryElements:
    node_labels: set = field(default_factory=set)
    relationship_types: set = field(default_factory=set)
    node_properties: dict = field(default_factory=dict)  # label -> set(prop)
    relationship_properties: dict = field(default_factory=dict)
    property_accesses: list = field(default_factory=list)
    property_comparisons: list = field(default_factory=list)
    defined_variables: set = field(default_factory=set)
    referenced_variables: set = field(default_factory=set)
    pattern_sequences: list = field(default_factory=list)
    variable_node_bindings: dict = field(default_factory=dict)
    variable_relationship_bindings: dict = field(default_factory=dict)


def _value_type(value: PropertyValue) -> str:
    """property_value_to_type (validation.rs:134-143)."""
    return {
        "string": "string",
        "number": "number",
        "boolean": "boolean",
        "null": "null",
    }.get(value.kind, "unknown")


def _value_string(value: PropertyValue) -> str:
    """property_value_to_string (validation.rs:146-156)."""
    if value.kind == "string":
        return value.value
    if value.kind == "number":
        return str(value.value)
    if value.kind == "boolean":
        return "true" if value.value else "false"
    if value.kind == "null":
        return "null"
    if value.kind == "identifier":
        return value.value
    if value.kind == "parameter":
        return f"${value.value}"
    return "unknown"


def extract_query_elements(query: Query) -> QueryElements:
    """validation.rs:195-247 — clause-vector order is load-bearing for the
    insertion order of property_accesses/comparisons."""
    elements = QueryElements()
    for clauses in (query.match_clauses, query.merge_clauses, query.create_clauses):
        for clause in clauses:
            for element in clause.elements:
                _extract_from_match_element(element, elements)
    for where_clause in query.where_clauses:
        for condition in where_clause.conditions:
            _extract_from_where_condition(condition, elements)
    for return_clause in query.return_clauses:
        for item in return_clause.items:
            extract_property_access_from_string(item, elements, CTX_RETURN)
    for with_clause in query.with_clauses:
        for item in with_clause.items:
            _extract_from_with_item(item, elements)
    for unwind_clause in query.unwind_clauses:
        elements.defined_variables.add(unwind_clause.variable)
    return elements


def _extract_from_match_element(element: MatchElement, elements: QueryElements):
    """validation.rs:250-352."""
    if element.path_var:
        elements.defined_variables.add(element.path_var)
    elements.pattern_sequences.append(element.pattern)
    for pe in element.pattern:
        if isinstance(pe, NodePattern):
            if pe.variable:
                elements.defined_variables.add(pe.variable)
                if pe.label:
                    elements.variable_node_bindings[pe.variable] = pe.label
            if pe.label:
                elements.node_labels.add(pe.label)
                if pe.properties:
                    props = elements.node_properties.setdefault(pe.label, set())
                    for prop in pe.properties:
                        props.add(prop.key)
        elif isinstance(pe, RelationshipPattern):
            details = pe.details
            if details.variable:
                elements.defined_variables.add(details.variable)
                if details.rel_type:
                    elements.variable_relationship_bindings[details.variable] = details.rel_type
            if details.rel_type:
                elements.relationship_types.add(details.rel_type)
                if details.properties:
                    props = elements.relationship_properties.setdefault(details.rel_type, set())
                    for prop in details.properties:
                        props.add(prop.key)
        elif isinstance(pe, QuantifiedPathPattern):
            # QPP inner: defined vars + labels/types only — no props, no
            # bindings (validation.rs:314-349); nested QPPs unsupported.
            if pe.path_variable:
                elements.defined_variables.add(pe.path_variable)
            for inner in pe.pattern:
                if isinstance(inner, NodePattern):
                    if inner.variable:
                        elements.defined_variables.add(inner.variable)
                    if inner.label:
                        elements.node_labels.add(inner.label)
                elif isinstance(inner, RelationshipPattern):
                    if inner.details.variable:
                        elements.defined_variables.add(inner.details.variable)
                    if inner.details.rel_type:
                        elements.relationship_types.add(inner.details.rel_type)


def _extract_from_property_value(value: PropertyValue, elements: QueryElements, context: str):
    """validation.rs:159-192 — identifiers recurse into the string heuristic."""
    if value.kind == "identifier":
        extract_property_access_from_string(value.value, elements, context)
    elif value.kind == "function_call" and value.args:
        for arg in value.args:
            _extract_from_property_value(arg, elements, context)


def _extract_from_where_condition(condition: WhereCondition, elements: QueryElements):
    """validation.rs:355-430."""
    k = condition.kind
    if k == "comparison":
        _extract_from_property_value(condition.left, elements, CTX_WHERE)
        _extract_from_property_value(condition.right, elements, CTX_WHERE)
        # a `var.prop` on either side is compared with the other side
        for side, other in ((condition.left, condition.right), (condition.right, condition.left)):
            if side.kind == "identifier" and "." in side.value:
                parts = side.value.split(".")
                if len(parts) == 2:
                    elements.property_comparisons.append(
                        PropertyComparison(
                            variable=parts[0].strip(),
                            property=parts[1].strip(),
                            value=_value_string(other),
                            value_type=_value_type(other),
                        )
                    )
    elif k == "function_call":
        for arg in condition.arguments or []:
            extract_property_access_from_string(arg, elements, CTX_WHERE)
    elif k == "path_property":
        elements.referenced_variables.add(condition.path_var)
        elements.property_accesses.append(
            PropertyAccess(condition.path_var, condition.property, CTX_WHERE)
        )
    elif k in ("and", "or"):
        _extract_from_where_condition(condition.lhs, elements)
        _extract_from_where_condition(condition.rhs, elements)
    elif k in ("not", "parenthesized"):
        _extract_from_where_condition(condition.inner, elements)


def _extract_from_with_item(item: WithItem, elements: QueryElements):
    """validation.rs:439-471."""
    _extract_from_with_expression(item.expression, elements)
    if item.alias:
        elements.defined_variables.add(item.alias)


def _extract_from_with_expression(expr: WithExpression, elements: QueryElements):
    if expr.kind == "identifier":
        elements.referenced_variables.add(expr.name)
    elif expr.kind == "property_access":
        elements.referenced_variables.add(expr.variable)
        elements.property_accesses.append(
            PropertyAccess(expr.variable, expr.property, CTX_WITH)
        )
    elif expr.kind == "function_call":
        for arg in expr.args or []:
            _extract_from_with_expression(arg, elements)
    # wildcard: no-op


def extract_property_access_from_string(s: str, elements: QueryElements, context: str):
    """validation.rs:474-526 — splits at the FIRST '.', verbatim quirks."""
    trimmed = s.strip()
    if trimmed.startswith('"') and trimmed.endswith('"'):
        return
    if trimmed.startswith("'") and trimmed.endswith("'"):
        return
    dot = trimmed.find(".")
    if dot != -1:
        variable = trimmed[:dot].strip()
        prop = trimmed[dot + 1 :].strip()
        if variable and prop:
            elements.referenced_variables.add(variable)
            elements.property_accesses.append(PropertyAccess(variable, prop, context))
    else:
        if (
            trimmed
            and " " not in trimmed
            and not (trimmed.isascii() and trimmed.isdigit())
            and trimmed.lower() not in ("true", "false", "null")
            and not trimmed.startswith('"')
            and not trimmed.startswith("'")
            and not trimmed.endswith('"')
            and not trimmed.endswith("'")
        ):
            elements.referenced_variables.add(trimmed)
