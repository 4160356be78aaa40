"""Pure-Python, Spark-free Cypher parser + schema validator.

Behavior parity target: neo4j-field/cypher-guard v4.0.0 (see SURVEY.md).
Public surface mirrors the reference's Python bindings.
"""

from types import ModuleType as _ModuleType

from .api import (
    check_syntax,
    get_cypher_validation_errors,
    has_parser_errors,
    has_valid_cypher,
    is_write,
    parse_query,
    parse_query_result,
    validate_cypher,
    validate_cypher_with_schema,
)
from .errors import (
    CypherParsingError,
    CypherSchemaError,
    CypherValidationError,
    ParsingError,
    ValidationError,
)
from .schema import (
    DbSchema,
    DbSchemaConstraint,
    DbSchemaIndex,
    DbSchemaMetadata,
    DbSchemaProperty,
    DbSchemaRelationshipPattern,
)

# The reference module registers its ENTIRE exception taxonomy at top
# level (python_bindings lib.rs:1713-1905): a drop-in user may catch any of
# the 63 names via `from cypher_guard import X`, so every class of the three
# families is re-exported here (surface locked by tests/test_schema_parity.py::
# test_module_exception_surface_matches_reference).
globals().update(
    (cls.__name__, cls)
    for family in (CypherValidationError, CypherParsingError, CypherSchemaError)
    for cls in family.__subclasses__()
)

__all__ = [
    name
    for name, value in globals().items()
    if not name.startswith("_") and not isinstance(value, _ModuleType)
]
