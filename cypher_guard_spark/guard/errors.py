"""Error taxonomy with message parity to the reference.

Mirrors the Rust error enums and the PyO3 exception hierarchy:
- validation variants: rust/cypher_guard/src/errors.rs:48-91
- parsing variants:    rust/cypher_guard/src/errors.rs:241-327
- schema variants:     rust/cypher_guard/src/errors.rs:675-749
- exception classes + message templates:
  rust/python_bindings/src/lib.rs:17-330

Validation errors double as value objects (they are *returned* as strings
by ``validate_cypher``/``get_cypher_validation_errors``) and as raisable
exceptions (parity with the binding's registered exception classes).
"""

from __future__ import annotations

from dataclasses import dataclass


# ---------------------------------------------------------------------------
# Exception hierarchy (names match python_bindings/src/lib.rs:17-96)
# ---------------------------------------------------------------------------

class CypherValidationError(Exception):
    """Base for all validation errors."""


class InvalidNodeLabel(CypherValidationError):
    pass


class InvalidRelationshipType(CypherValidationError):
    pass


class InvalidNodeProperty(CypherValidationError):
    pass


class InvalidRelationshipProperty(CypherValidationError):
    pass


class InvalidPropertyAccess(CypherValidationError):
    pass


class InvalidPropertyName(CypherValidationError):
    pass


class UndefinedVariable(CypherValidationError):
    pass


class TypeMismatch(CypherValidationError):
    pass


class InvalidRelationship(CypherValidationError):
    pass


class InvalidLabel(CypherValidationError):
    pass


class InvalidPropertyType(CypherValidationError):
    pass


class CypherParsingError(Exception):
    """Base for all parsing errors."""


class NomParsingError(CypherParsingError):
    pass


class UnexpectedEndOfInput(CypherParsingError):
    pass


class ExpectedToken(CypherParsingError):
    pass


class InvalidSyntax(CypherParsingError):
    pass


class ParsingUndefinedVariable(CypherParsingError):
    pass


class MissingRequiredClause(CypherParsingError):
    pass


class InvalidClauseOrder(CypherParsingError):
    pass


class ReturnBeforeOtherClauses(CypherParsingError):
    pass


class MatchAfterReturn(CypherParsingError):
    pass


class CreateAfterReturn(CypherParsingError):
    pass


class MergeAfterReturn(CypherParsingError):
    pass


class DeleteAfterReturn(CypherParsingError):
    pass


class SetAfterReturn(CypherParsingError):
    pass


class WhereAfterReturn(CypherParsingError):
    pass


class WithAfterReturn(CypherParsingError):
    pass


class UnwindAfterReturn(CypherParsingError):
    pass


class WhereBeforeMatch(CypherParsingError):
    pass


class ReturnAfterReturn(CypherParsingError):
    pass


class OrderByBeforeReturn(CypherParsingError):
    pass


class SkipBeforeReturn(CypherParsingError):
    pass


class LimitBeforeReturn(CypherParsingError):
    pass


class InvalidPattern(CypherParsingError):
    pass


class InvalidWhereCondition(CypherParsingError):
    pass


class InvalidExpression(CypherParsingError):
    pass


class CypherSchemaError(Exception):
    """Base for all schema errors."""


class InvalidSchemaFormat(CypherSchemaError):
    pass


class MissingSchemaField(CypherSchemaError):
    pass


class InvalidSchemaPropertyType(CypherSchemaError):
    pass


class DuplicateSchemaDefinition(CypherSchemaError):
    pass


class InvalidSchemaPropertyName(CypherSchemaError):
    pass


class InvalidSchemaRelationshipPattern(CypherSchemaError):
    pass


class InvalidSchemaConstraint(CypherSchemaError):
    pass


class InvalidSchemaIndex(CypherSchemaError):
    pass


class InvalidSchemaMetadata(CypherSchemaError):
    pass


class InvalidSchemaEnumValues(CypherSchemaError):
    pass


class InvalidSchemaValueRange(CypherSchemaError):
    pass


class InvalidSchemaDistinctValueCount(CypherSchemaError):
    pass


class InvalidSchemaExampleValues(CypherSchemaError):
    pass


class InvalidSchemaJson(CypherSchemaError):
    pass


class SchemaIoError(CypherSchemaError):
    pass


class SchemaLabelNotFound(CypherSchemaError):
    pass


class DuplicateSchemaLabel(CypherSchemaError):
    pass


class SchemaRelationshipNotFound(CypherSchemaError):
    pass


class DuplicateSchemaRelationship(CypherSchemaError):
    pass


class SchemaPropertyNotFound(CypherSchemaError):
    pass


class DuplicateSchemaProperty(CypherSchemaError):
    pass


# Schema file/serde IO variants (python_bindings lib.rs:92-95, raised at
# lib.rs:347-356 with "File open error: {}", "File create error: {}",
# "JSON read error: {}", "Serialization error: {}"). The port has no file
# IO path that raises them today, but they are part of the module's
# registered exception surface (lib.rs:1879-1890) and a drop-in user may
# catch them by name.
class SchemaFileOpenError(CypherSchemaError):
    pass


class SchemaFileCreateError(CypherSchemaError):
    pass


class SchemaJsonReadError(CypherSchemaError):
    pass


class SchemaSerializationError(CypherSchemaError):
    pass


# ---------------------------------------------------------------------------
# Validation error value objects (Display parity: errors.rs:48-91)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class ValidationError:
    """A validation finding; ``message`` is the exact reference Display string."""

    code: str
    message: str

    def __str__(self) -> str:  # pragma: no cover - convenience
        return self.message

    def to_exception(self) -> CypherValidationError:
        return VALIDATION_EXCEPTIONS.get(self.code, CypherValidationError)(self.message)


def invalid_node_label(label: str) -> ValidationError:
    return ValidationError("InvalidNodeLabel", f"Invalid node label: {label}")


def invalid_relationship_type(rel_type: str) -> ValidationError:
    return ValidationError(
        "InvalidRelationshipType", f"Invalid relationship type: {rel_type}"
    )


def invalid_node_property(label: str, prop: str) -> ValidationError:
    return ValidationError(
        "InvalidNodeProperty", f"Invalid node property '{prop}' on label '{label}'"
    )


def invalid_relationship_property(rel_type: str, prop: str) -> ValidationError:
    return ValidationError(
        "InvalidRelationshipProperty",
        f"Invalid relationship property '{prop}' on type '{rel_type}'",
    )


def invalid_property_access(variable: str, prop: str, context: str) -> ValidationError:
    # NB the double "clause" for WHERE/RETURN/WITH contexts is the reference's
    # own behavior: context is "WHERE clause" and the template appends
    # " clause" (validation.rs:700-704 + errors.rs:74).
    return ValidationError(
        "InvalidPropertyAccess",
        f"Invalid property access '{variable}.{prop}' in {context} clause",
    )


def invalid_property_type(
    variable: str, prop: str, expected_type: str, actual_value: str
) -> ValidationError:
    return ValidationError(
        "InvalidPropertyType",
        f"Invalid property type for '{variable}.{prop}': "
        f"expected {expected_type}, got value '{actual_value}'",
    )


def invalid_relationship(msg: str) -> ValidationError:
    return ValidationError("InvalidRelationship", f"Invalid relationship: {msg}")


def undefined_variable(var: str) -> ValidationError:
    return ValidationError("UndefinedVariable", f"Undefined variable: {var}")


# ---------------------------------------------------------------------------
# Parsing error value object
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class ParsingError:
    """A parse failure: ``code`` names the exception class, ``message`` the text.

    ``line``/``column`` mirror the reference's "(found at line L, column C)"
    payload, which the lib.rs heuristic constructors always set to 0, 0
    (errors.rs:386-460); the Spark UDF's error struct carries them.
    """

    code: str
    message: str
    line: int = 0
    column: int = 0

    def to_exception(self) -> CypherParsingError:
        return PARSING_EXCEPTIONS.get(self.code, CypherParsingError)(self.message)


# Every error code is its exception class's name (binding parity).
VALIDATION_EXCEPTIONS = {c.__name__: c for c in CypherValidationError.__subclasses__()}
PARSING_EXCEPTIONS = {c.__name__: c for c in CypherParsingError.__subclasses__()}


def nom_parsing_error(kind: str, remaining: str) -> ParsingError:
    """Parity with convert_nom_error + nom's Display: "error {kind:?} at: {input}"."""
    return ParsingError(
        "NomParsingError", f"Nom parsing error: error {kind} at: {remaining}"
    )


def missing_required_clause(clause: str) -> ParsingError:
    return ParsingError(
        "MissingRequiredClause", f"Missing required clause: {clause}"
    )


def invalid_clause_order(context: str, details: str) -> ParsingError:
    return ParsingError(
        "InvalidClauseOrder", f"Invalid clause order: {context} - {details}"
    )


# The clause-order variants the lib.rs heuristic ladder raises, by code;
# it always reports line 0, column 0 (errors.rs:386-460).
_CLAUSE_ORDER_TEXT = {
    "ReturnBeforeOtherClauses": "RETURN clause must come after all other clauses "
    "except ORDER BY, SKIP, LIMIT, and writing clauses",
    "MatchAfterReturn": "MATCH clause cannot come after RETURN clause",
    "WithAfterReturn": "WITH clause cannot come after RETURN clause",
    "UnwindAfterReturn": "UNWIND clause cannot come after RETURN clause",
    "WhereBeforeMatch": "WHERE clause must come after MATCH, UNWIND, or WITH clause",
}


def clause_order_error(code: str) -> ParsingError:
    return ParsingError(code, f"{_CLAUSE_ORDER_TEXT[code]} (found at line 0, column 0)")
