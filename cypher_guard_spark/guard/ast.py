"""AST dataclasses mirroring rust/cypher_guard/src/parser/ast.rs.

The AST lives only inside a single UDF batch on the Python worker; it is
never a Spark schema. Property values are a tagged union:
``PropertyValue(kind, value)`` with kinds
string|number|boolean|null|list|map|function_call|parameter|identifier
(ast.rs:171-184). All numbers are int (i64 parity, PARSER_INTERNALS.md:321).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional


# Direction (ast.rs:152-156)
LEFT = "left"
RIGHT = "right"
UNDIRECTED = "undirected"


@dataclass
class PropertyValue:
    kind: str  # string|number|boolean|null|list|map|function_call|parameter|identifier
    value: object = None
    # for function_call only:
    name: Optional[str] = None
    args: Optional[list] = None

    @staticmethod
    def string(s: str) -> "PropertyValue":
        return PropertyValue("string", s)

    @staticmethod
    def number(n: int) -> "PropertyValue":
        return PropertyValue("number", n)

    @staticmethod
    def boolean(b: bool) -> "PropertyValue":
        return PropertyValue("boolean", b)

    @staticmethod
    def null() -> "PropertyValue":
        return PropertyValue("null", None)

    @staticmethod
    def list_(items: list) -> "PropertyValue":
        return PropertyValue("list", items)

    @staticmethod
    def map_(m: dict) -> "PropertyValue":
        return PropertyValue("map", m)

    @staticmethod
    def function_call(name: str, args: list) -> "PropertyValue":
        return PropertyValue("function_call", None, name=name, args=args)

    @staticmethod
    def parameter(name: str) -> "PropertyValue":
        return PropertyValue("parameter", name)

    @staticmethod
    def identifier(name: str) -> "PropertyValue":
        return PropertyValue("identifier", name)


@dataclass
class Property:
    key: str
    value: PropertyValue


@dataclass
class Quantifier:
    min: Optional[int]
    max: Optional[int]


@dataclass
class LengthRange:
    min: Optional[int]
    max: Optional[int]


@dataclass
class NodePattern:
    variable: Optional[str] = None
    label: Optional[str] = None
    properties: Optional[list] = None  # list[Property]


@dataclass
class RelationshipDetails:
    variable: Optional[str] = None
    direction: str = UNDIRECTED
    properties: Optional[list] = None
    rel_type: Optional[str] = None
    length: Optional[LengthRange] = None
    where_clause: Optional["WhereClause"] = None
    quantifier: Optional[Quantifier] = None
    is_optional: bool = False


@dataclass
class RelationshipPattern:
    """Regular vs OptionalRelationship collapses to a flag (ast.rs:113-117)."""

    details: RelationshipDetails
    optional: bool = False

    @property
    def direction(self) -> str:
        return self.details.direction

    @property
    def rel_type(self) -> Optional[str]:
        return self.details.rel_type

    @property
    def properties(self) -> Optional[list]:
        return self.details.properties


@dataclass
class QuantifiedPathPattern:
    pattern: list  # list[PatternElement]
    min: Optional[int]
    max: Optional[int]
    where_clause: Optional["WhereClause"] = None
    path_variable: Optional[str] = None


# PatternElement is one of NodePattern / RelationshipPattern /
# QuantifiedPathPattern — discriminated by isinstance.
PatternElement = object


@dataclass
class MatchElement:
    path_var: Optional[str]
    pattern: list  # list[PatternElement]


@dataclass
class MatchClause:
    elements: list
    is_optional: bool = False


@dataclass
class WhereCondition:
    kind: str  # comparison|function_call|path_property|and|or|not|parenthesized
    # comparison:
    left: Optional[PropertyValue] = None
    operator: Optional[str] = None
    right: Optional[PropertyValue] = None
    # function_call:
    function: Optional[str] = None
    arguments: Optional[list] = None  # list[str]
    # path_property:
    path_var: Optional[str] = None
    property: Optional[str] = None
    # and/or:
    lhs: Optional["WhereCondition"] = None
    rhs: Optional["WhereCondition"] = None
    # not/parenthesized:
    inner: Optional["WhereCondition"] = None


@dataclass
class WhereClause:
    conditions: list  # list[WhereCondition]


@dataclass
class ReturnClause:
    items: list  # list[str] — flat strings, reference parity (ast.rs:15-18)


@dataclass
class SetClause:
    variable: str
    property: str
    value: PropertyValue


@dataclass
class OnCreateClause:
    set_clauses: list


@dataclass
class OnMatchClause:
    set_clauses: list


@dataclass
class MergeClause:
    elements: list
    on_create: Optional[OnCreateClause] = None
    on_match: Optional[OnMatchClause] = None


@dataclass
class CreateClause:
    elements: list


@dataclass
class WithExpression:
    kind: str  # identifier|property_access|function_call|wildcard
    name: Optional[str] = None  # identifier name or function name
    variable: Optional[str] = None
    property: Optional[str] = None
    args: Optional[list] = None  # list[WithExpression]


@dataclass
class WithItem:
    expression: WithExpression
    alias: Optional[str] = None


@dataclass
class WithClause:
    items: list


@dataclass
class UnwindExpression:
    kind: str  # list|identifier|function_call|parameter
    value: object = None
    name: Optional[str] = None
    args: Optional[list] = None


@dataclass
class UnwindClause:
    expression: UnwindExpression
    variable: str = ""


@dataclass
class CallClause:
    subquery: Optional["Query"] = None
    procedure: Optional[str] = None
    yield_clause: Optional[list] = None


@dataclass
class Query:
    """Eight parallel clause vectors; interleaving order is lost (ast.rs:3-12)."""

    match_clauses: list = field(default_factory=list)
    merge_clauses: list = field(default_factory=list)
    create_clauses: list = field(default_factory=list)
    with_clauses: list = field(default_factory=list)
    where_clauses: list = field(default_factory=list)
    return_clauses: list = field(default_factory=list)
    unwind_clauses: list = field(default_factory=list)
    call_clauses: list = field(default_factory=list)


def offset_to_line_column(text: str, byte_offset: int) -> tuple:
    """1-indexed line/column for a byte offset (parser/span.rs:21-69)."""
    if byte_offset == 0:
        return (1, 1)
    data = text.encode("utf-8")
    if byte_offset >= len(data):
        line, column = 1, 1
        for ch in text:
            if ch == "\n":
                line += 1
                column = 1
            else:
                column += 1
        return (line, column)
    line, column, idx = 1, 1, 0
    for ch in text:
        ch_len = len(ch.encode("utf-8"))
        if idx <= byte_offset < idx + ch_len:
            if ch == "\n" and byte_offset == idx:
                return (line + 1, 1)
            return (line, column)
        idx += ch_len
        if ch == "\n":
            line += 1
            column = 1
        else:
            column += 1
    return (line, column)
