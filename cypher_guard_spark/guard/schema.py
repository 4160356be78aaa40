"""DbSchema — Neo4j GraphRAG-format graph schema.

Parity targets two reference layers at once:

* the CORE Rust structs + predicates (rust/cypher_guard/src/schema.rs) — the
  validation workhorse (`has_label`, `has_node_property`, ... schema.rs:419-461)
  and the strict-serde JSON path (`from_json_string` schema.rs:333-340);
* the PyO3 BINDING surface (rust/python_bindings/src/lib.rs:440-1530) — the
  Python classes a reference user actually touches: kwargs constructors,
  `from_dict` with alternate key names, None-omitting `to_dict`, Rust-f64
  `__repr__` formatting, and builtin KeyError/ValueError/TypeError exceptions.
  Anchored line-by-line by tests/test_schema_parity.py against the assertions
  in rust/python_bindings/tests/unit/test_schema.py.

Frozen-ish plain-Python objects designed to be ``sparkContext.broadcast``-ed:
built once on the driver, pickled to each executor, then only read.
"""

from __future__ import annotations

import json
from typing import Optional

from . import errors as E

# Property type universe — exactly these seven, with aliases
# (schema.rs:10-18, :35-52). No DATE, no DURATION, no MAP.
PROPERTY_TYPES = ("STRING", "INTEGER", "FLOAT", "BOOLEAN", "POINT", "DATE_TIME", "LIST")

_ALIASES = {
    "STRING": "STRING",
    "STR": "STRING",
    "INTEGER": "INTEGER",
    "INT": "INTEGER",
    "FLOAT": "FLOAT",
    "BOOLEAN": "BOOLEAN",
    "BOOL": "BOOLEAN",
    "POINT": "POINT",
    "DATE_TIME": "DATE_TIME",
    "LIST": "LIST",
}


def property_type_from_string(s: str) -> str:
    """Binding-level PropertyType::from_string (python_bindings/src/lib.rs:402-416):
    trim + uppercase + aliases, ValueError with the bindings' exact message."""
    if not isinstance(s, str):
        raise TypeError(f"argument 'neo4j_type': expected str, got {type(s).__name__}")
    t = _ALIASES.get(s.strip().upper())
    if t is None:
        raise ValueError(
            f"Invalid property type: '{s}'. Valid types: STRING, INTEGER, FLOAT, "
            f"BOOLEAN, POINT, DATE_TIME, LIST"
        )
    return t


def _core_property_type(s) -> str:
    """Core serde path (schema.rs:56-62 derive): only the seven canonical
    variant names are valid JSON — no STR/INT/BOOL aliases, no trimming."""
    if not isinstance(s, str) or s not in PROPERTY_TYPES:
        raise E.InvalidSchemaJson(
            f"Failed to parse schema JSON: unknown variant `{s}`, expected one of "
            + ", ".join(f"`{t}`" for t in PROPERTY_TYPES)
        )
    return s


def _rust_f64(v) -> str:
    """Rust f64 Display: integral values drop the '.0' (10.0 -> '10');
    everything else matches Python repr (shortest round-trip)."""
    if v is None:
        return "None"
    f = float(v)
    if f.is_integer() and abs(f) < 1e16:
        return str(int(f))
    return repr(f)


def _quoted_list(values) -> str:
    """['value1', 'value2'] — single-quoted join (lib.rs:658-668)."""
    if values is None:
        return "None"
    return "[" + ", ".join(f"'{v}'" for v in values) + "]"


def _require_str(value, what: str) -> str:
    if not isinstance(value, str):
        raise TypeError(f"argument '{what}': expected str, got {type(value).__name__}")
    return value


def _require_str_list(value, what: str):
    if value is None:
        return None
    if not isinstance(value, (list, tuple)) or any(
        not isinstance(v, str) for v in value
    ):
        raise TypeError(f"argument '{what}': expected list[str]")
    return list(value)


def _require_f64(value, what: str, allow_none: bool = True):
    if value is None and allow_none:
        return None
    if isinstance(value, bool) or not isinstance(value, (int, float)):
        raise TypeError(
            f"argument '{what}': expected float, got {type(value).__name__}"
        )
    return float(value)


def _require_i64(value, what: str, allow_none: bool = True):
    if value is None and allow_none:
        return None
    if isinstance(value, bool) or not isinstance(value, int):
        raise TypeError(f"argument '{what}': expected int, got {type(value).__name__}")
    return int(value)


def _required(d: dict, *keys: str, context: str = ""):
    """The value under the first of ``keys`` present in ``d`` — the binding's
    alternate key names — else its KeyError naming every key."""
    for key in keys:
        if key in d:
            return d[key]
    quoted = [f"'{k}'" for k in keys]
    if len(quoted) > 2:
        quoted = [", ".join(quoted[:-1]) + ",", quoted[-1]]
    raise KeyError(f"Missing {' or '.join(quoted)} field{context}")


def _either(d: dict, key: str, alternate: str, default=None):
    """``d[key]``, else ``d[alternate]`` when the first is absent or None."""
    value = d.get(key)
    return d.get(alternate, default) if value is None else value


class DbSchemaProperty:
    """schema.rs:56-71 / binding lib.rs:440-721.

    Constructor signature and TypeError/ValueError behavior mirror the pyo3
    `#[new]` (lib.rs:458-484); `from_dict` mirrors the binding's alternate
    key names and type-gated min/max extraction (lib.rs:486-596);
    `to_dict` omits None fields (lib.rs:630-654)."""

    __slots__ = (
        "name",
        "neo4j_type",
        "enum_values",
        "min_value",
        "max_value",
        "distinct_value_count",
        "example_values",
    )

    def __init__(
        self,
        name,
        neo4j_type,
        enum_values=None,
        min_value=None,
        max_value=None,
        distinct_value_count=None,
        example_values=None,
    ):
        self.name = _require_str(name, "name")
        if not isinstance(neo4j_type, str):
            # pyo3 String extraction failure -> TypeError (test_schema.py:30-32)
            raise TypeError(
                f"argument 'neo4j_type': expected str, got {type(neo4j_type).__name__}"
            )
        self.neo4j_type = property_type_from_string(neo4j_type)
        self.enum_values = _require_str_list(enum_values, "enum_values")
        self.min_value = _require_f64(min_value, "min_value")
        self.max_value = _require_f64(max_value, "max_value")
        self.distinct_value_count = _require_i64(
            distinct_value_count, "distinct_value_count"
        )
        self.example_values = _require_str_list(example_values, "example_values")

    @classmethod
    def from_dict(cls, d: dict) -> "DbSchemaProperty":
        """Binding quirks reproduced exactly (lib.rs:486-596):
        'property'/'type' alternate keys; 'distinct_count' alias; 'values'
        doubles as enum_values only when its length equals
        distinct_value_count; min/max read only when the RAW neo4j_type
        string equals "INTEGER"/"FLOAT" (aliases like "INT" skip them);
        min/max accept numeric strings, silently None on parse failure."""
        name = _required(d, "name", "property")
        neo4j_type = _required(d, "neo4j_type", "type")
        resolved = property_type_from_string(neo4j_type)

        distinct_value_count = _require_i64(
            _either(d, "distinct_value_count", "distinct_count"), "distinct_value_count"
        )

        enum_values = d.get("enum_values")
        if enum_values is None:
            candidate = d.get("values")
            if candidate is not None and hasattr(candidate, "__len__") and len(
                candidate
            ) == (distinct_value_count or 0):
                enum_values = candidate
        enum_values = _require_str_list(enum_values, "enum_values")

        def extract_float(value):
            if isinstance(value, bool):
                return None
            if isinstance(value, (int, float)):
                return float(value)
            if isinstance(value, str):
                try:
                    return float(value)
                except ValueError:
                    return None
            return None

        min_value = None
        max_value = None
        # Raw-string comparison, NOT the resolved type (lib.rs:552-556):
        # a property declared with the "INT" alias never gets min/max.
        if neo4j_type in ("INTEGER", "FLOAT"):
            min_value = extract_float(_either(d, "min_value", "min"))
            max_value = extract_float(_either(d, "max_value", "max"))

        example_values = _require_str_list(
            _either(d, "example_values", "values"), "example_values"
        )
        return cls._checked(
            _require_str(name, "name"),
            resolved,
            enum_values,
            min_value,
            max_value,
            distinct_value_count,
            example_values,
        )

    @classmethod
    def _from_dict_serde(cls, d: dict) -> "DbSchemaProperty":
        """Core serde path (schema.rs:56-71 derive) for from_json_string:
        canonical keys only, strict variant names, Option fields -> None."""
        if "name" not in d or "neo4j_type" not in d:
            raise E.InvalidSchemaJson(
                "Failed to parse schema JSON: missing field `name`/`neo4j_type`"
            )
        return cls._checked(
            d["name"],
            _core_property_type(d["neo4j_type"]),
            d.get("enum_values"),
            d.get("min_value"),
            d.get("max_value"),
            d.get("distinct_value_count"),
            d.get("example_values"),
        )

    @classmethod
    def _checked(cls, *values) -> "DbSchemaProperty":
        """Build from slot values (in ``__slots__`` order) that the caller
        has already checked, skipping the constructor's own checks."""
        prop = cls.__new__(cls)
        for slot, value in zip(cls.__slots__, values):
            setattr(prop, slot, value)
        return prop

    def to_dict(self) -> dict:
        out = {"name": self.name, "neo4j_type": self.neo4j_type}
        if self.enum_values is not None:
            out["enum_values"] = self.enum_values
        if self.min_value is not None:
            out["min_value"] = self.min_value
        if self.max_value is not None:
            out["max_value"] = self.max_value
        if self.distinct_value_count is not None:
            out["distinct_value_count"] = self.distinct_value_count
        if self.example_values is not None:
            out["example_values"] = self.example_values
        return out

    def __repr__(self) -> str:
        return (
            f"DbSchemaProperty(name={self.name}, neo4j_type={self.neo4j_type}, "
            f"enum_values={_quoted_list(self.enum_values)}, "
            f"min_value={_rust_f64(self.min_value)}, "
            f"max_value={_rust_f64(self.max_value)}, "
            f"distinct_value_count={self.distinct_value_count if self.distinct_value_count is not None else 'None'}, "
            f"example_values={_quoted_list(self.example_values)})"
        )

    def __str__(self) -> str:
        return f"{self.name}: {self.neo4j_type}"

    def __eq__(self, other) -> bool:
        if not isinstance(other, DbSchemaProperty):
            return NotImplemented
        return all(
            getattr(self, s) == getattr(other, s) for s in DbSchemaProperty.__slots__
        )


class DbSchemaRelationshipPattern:
    """schema.rs:152-159 / binding lib.rs:718-796."""

    __slots__ = ("start", "end", "rel_type")

    def __init__(self, start, end, rel_type):
        self.start = _require_str(start, "start")
        self.end = _require_str(end, "end")
        self.rel_type = _require_str(rel_type, "rel_type")

    @classmethod
    def from_dict(cls, d: dict) -> "DbSchemaRelationshipPattern":
        return cls(
            _required(d, "start"),
            _required(d, "end"),
            _required(d, "rel_type", "type", context=" for Relationship Pattern"),
        )

    def to_dict(self) -> dict:
        return {"start": self.start, "end": self.end, "rel_type": self.rel_type}

    def __repr__(self) -> str:
        return (
            f"DbSchemaRelationshipPattern(start={self.start}, end={self.end}, "
            f"rel_type={self.rel_type})"
        )

    def __str__(self) -> str:
        return f"(:{self.start})-[:{self.rel_type}]->(:{self.end})"

    def __eq__(self, other) -> bool:
        if not isinstance(other, DbSchemaRelationshipPattern):
            return NotImplemented
        return (self.start, self.end, self.rel_type) == (
            other.start,
            other.end,
            other.rel_type,
        )


class DbSchemaConstraint:
    """Binding lib.rs:797-980: 8-field surface. `owned_index=None` is stored
    as '' (unwrap_or_default, lib.rs:851); to_dict always includes
    property_type even when None (lib.rs:942-947)."""

    __slots__ = (
        "id",
        "name",
        "constraint_type",
        "entity_type",
        "labels_or_types",
        "properties",
        "owned_index",
        "property_type",
    )

    def __init__(
        self,
        id,
        name,
        constraint_type,
        entity_type,
        labels_or_types,
        properties,
        owned_index=None,
        property_type=None,
    ):
        self.id = _require_i64(id, "id", allow_none=False)
        self.name = _require_str(name, "name")
        self.constraint_type = _require_str(constraint_type, "constraint_type")
        self.entity_type = _require_str(entity_type, "entity_type")
        self.labels_or_types = _require_str_list(labels_or_types, "labels_or_types")
        self.properties = _require_str_list(properties, "properties")
        if owned_index is None:
            self.owned_index = ""
        else:
            self.owned_index = _require_str(owned_index, "owned_index")
        if property_type is None:
            self.property_type = None
        else:
            self.property_type = _require_str(property_type, "property_type")

    @classmethod
    def from_dict(cls, d: dict) -> "DbSchemaConstraint":
        """Alt keys per lib.rs:856-925: type / entityType / labelsOrTypes /
        labels / ownedIndex / propertyType."""
        return cls(
            _required(d, "id"),
            _required(d, "name"),
            _required(d, "constraint_type", "type"),
            _required(d, "entity_type", "entityType"),
            _required(d, "labels_or_types", "labelsOrTypes", "labels"),
            _required(d, "properties"),
            _either(d, "owned_index", "ownedIndex"),
            _either(d, "property_type", "propertyType"),
        )

    def to_dict(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "constraint_type": self.constraint_type,
            "entity_type": self.entity_type,
            "labels_or_types": self.labels_or_types,
            "properties": self.properties,
            "owned_index": self.owned_index,
            "property_type": self.property_type,
        }

    def __repr__(self) -> str:
        pt = self.property_type if self.property_type is not None else "None"
        return (
            f"DbSchemaConstraint(id={self.id}, name={self.name}, "
            f"constraint_type={self.constraint_type}, entity_type={self.entity_type}, "
            f"labels_or_types=[{', '.join(self.labels_or_types)}], "
            f"properties=[{', '.join(self.properties)}], "
            f"owned_index={self.owned_index}, property_type={pt})"
        )

    def __str__(self) -> str:
        return (
            f"{self.constraint_type} CONSTRAINT {self.name} ON {self.entity_type} "
            f"({', '.join(self.labels_or_types)})."
            f"{{{', '.join(self.properties)}}}"
        )


class DbSchemaIndex:
    """Binding lib.rs:983-1117: label/properties/size/index_type plus f64
    values_selectivity and distinct_values (default 0.0)."""

    __slots__ = (
        "label",
        "properties",
        "size",
        "index_type",
        "values_selectivity",
        "distinct_values",
    )

    def __init__(
        self,
        label,
        properties,
        size,
        index_type,
        values_selectivity=0.0,
        distinct_values=0.0,
    ):
        self.label = _require_str(label, "label")
        self.properties = _require_str_list(properties, "properties")
        self.size = _require_i64(size, "size", allow_none=False)
        self.index_type = _require_str(index_type, "index_type")
        self.values_selectivity = _require_f64(
            values_selectivity, "values_selectivity", allow_none=False
        )
        self.distinct_values = _require_f64(
            distinct_values, "distinct_values", allow_none=False
        )

    @classmethod
    def from_dict(cls, d: dict) -> "DbSchemaIndex":
        return cls(
            _required(d, "label"),
            _required(d, "properties"),
            _required(d, "size"),
            _required(d, "index_type", "type"),
            _either(d, "values_selectivity", "valuesSelectivity", 0.0),
            _either(d, "distinct_values", "distinctValues", 0.0),
        )

    def to_dict(self) -> dict:
        return {
            "label": self.label,
            "properties": self.properties,
            "size": self.size,
            "index_type": self.index_type,
            "values_selectivity": self.values_selectivity,
            "distinct_values": self.distinct_values,
        }

    def __repr__(self) -> str:
        return (
            f"DbSchemaIndex(label={self.label}, "
            f"properties=[{', '.join(self.properties)}], size={self.size}, "
            f"index_type={self.index_type}, "
            f"values_selectivity={_rust_f64(self.values_selectivity)}, "
            f"distinct_values={_rust_f64(self.distinct_values)})"
        )

    def __str__(self) -> str:
        return f"INDEX {self.index_type} ON {self.label} ({', '.join(self.properties)})"


class DbSchemaMetadata:
    """Binding lib.rs:1118-1243: typed constraint/index lists."""

    __slots__ = ("constraint", "index")

    def __init__(self, constraint=None, index=None):
        self.constraint = list(constraint) if constraint is not None else []
        self.index = list(index) if index is not None else []

    @classmethod
    def from_dict(cls, d: dict) -> "DbSchemaMetadata":
        constraints = []
        for item in d.get("constraint", []) or []:
            if not isinstance(item, dict):
                raise TypeError("constraint item is not a dictionary")
            constraints.append(DbSchemaConstraint.from_dict(item))
        indexes = []
        for item in d.get("index", []) or []:
            if not isinstance(item, dict):
                raise TypeError("index item is not a dictionary")
            indexes.append(DbSchemaIndex.from_dict(item))
        return cls(constraints, indexes)

    def to_dict(self) -> dict:
        return {
            "constraint": [c.to_dict() for c in self.constraint],
            "index": [i.to_dict() for i in self.index],
        }

    def __repr__(self) -> str:
        return (
            f"DbSchemaMetadata(constraint=[{', '.join(repr(c) for c in self.constraint)}], "
            f"index=[{', '.join(repr(i) for i in self.index)}])"
        )

    def __str__(self) -> str:
        return (
            f"DbSchemaMetadata(constraint=[{', '.join(str(c) for c in self.constraint)}], "
            f"index=[{', '.join(str(i) for i in self.index)}])"
        )


def _property_lookup(attr: str):
    """A core-gated lookup of one property by owner and name in the
    ``attr`` map (``node_props`` or ``rel_props``); the first match wins."""

    def lookup(self, owner: str, property_name: str):
        if not self._core_populated:
            return None
        for p in getattr(self, attr).get(owner) or ():
            if p.name == property_name:
                return p
        return None

    return lookup


class DbSchema:
    """schema.rs:260-269 / binding lib.rs:1244-1530.

    BINDING QUIRK reproduced: the kwargs constructor (lib.rs:1260-1276)
    populates only the Python-visible getters and leaves the inner core
    schema EMPTY (`CoreDbSchema::new()`), so `has_label`/`has_node_property`
    and every validation predicate see an empty schema until the object is
    built via `from_dict`/`from_json_string`. `_core_populated` tracks this.
    """

    def __init__(
        self, node_props=None, rel_props=None, relationships=None, metadata=None
    ):
        self.node_props: dict = dict(node_props) if node_props is not None else {}
        self.rel_props: dict = dict(rel_props) if rel_props is not None else {}
        self.relationships: list = (
            list(relationships) if relationships is not None else []
        )
        self.metadata = metadata if metadata is not None else DbSchemaMetadata()
        # lib.rs:1269: inner = CoreDbSchema::new() — constructor-built
        # schemas validate as EMPTY (reference behavior).
        self._core_populated = False
        # derived lookup caches (built lazily, rebuilt on mutation)
        self._node_prop_names: Optional[dict] = None
        self._rel_prop_names: Optional[dict] = None
        self._all_prop_names: Optional[set] = None
        self._rel_first_pattern: Optional[dict] = None

    # -- construction -------------------------------------------------------

    @classmethod
    def from_dict(cls, d: dict) -> "DbSchema":
        """Binding from_dict (lib.rs:1286-1407): properties parsed with the
        alternate-key quirks and added through the core CRUD methods, whose
        duplicate errors surface as ValueError with the same text
        (lib.rs:1300-1302); metadata parsed into typed objects. Populates
        the core (unlike the kwargs constructor)."""
        schema = cls()
        try:
            for label, props in (d.get("node_props") or {}).items():
                schema.add_label(label)
                for p in props:
                    schema.add_node_property(label, DbSchemaProperty.from_dict(p))
            for rel_type, props in (d.get("rel_props") or {}).items():
                schema.rel_props[rel_type] = []
                for p in props:
                    schema.add_relationship_property(rel_type, DbSchemaProperty.from_dict(p))
            for r in d.get("relationships") or []:
                schema.add_relationship_pattern(DbSchemaRelationshipPattern.from_dict(r))
        except E.CypherSchemaError as exc:
            raise ValueError(str(exc)) from None
        md = d.get("metadata")
        if md is not None:
            schema.metadata = DbSchemaMetadata.from_dict(md)
        schema._core_populated = True
        return schema

    @classmethod
    def from_map(cls, d: dict) -> "DbSchema":
        """Core from_map (schema.rs:323-330): strict serde over a map —
        canonical keys only, structural errors -> InvalidSchemaJson."""
        try:
            schema = cls()
            for label, props in (d.get("node_props") or {}).items():
                schema.node_props[label] = [
                    DbSchemaProperty._from_dict_serde(p) for p in props
                ]
            for rel_type, props in (d.get("rel_props") or {}).items():
                schema.rel_props[rel_type] = [
                    DbSchemaProperty._from_dict_serde(p) for p in props
                ]
            for r in d.get("relationships") or []:
                if not all(k in r for k in ("start", "end", "rel_type")):
                    raise E.InvalidSchemaJson(
                        "Failed to parse schema JSON: missing relationship field"
                    )
                schema.relationships.append(
                    DbSchemaRelationshipPattern(r["start"], r["end"], r["rel_type"])
                )
            md = d.get("metadata") or {}
            schema.metadata = DbSchemaMetadata(
                constraint=[
                    DbSchemaConstraint.from_dict(c) if isinstance(c, dict) else c
                    for c in md.get("constraint", [])
                ],
                index=[
                    DbSchemaIndex.from_dict(i) if isinstance(i, dict) else i
                    for i in md.get("index", [])
                ],
            )
            schema._core_populated = True
            return schema
        except E.CypherSchemaError:
            raise
        except Exception as exc:  # serde parity: structural errors -> InvalidJson
            raise E.InvalidSchemaJson(f"Failed to parse schema from map: {exc}")

    @classmethod
    def from_json_string(cls, json_str: str) -> "DbSchema":
        """schema.rs:333-340."""
        try:
            data = json.loads(json_str)
        except Exception as exc:
            raise E.InvalidSchemaJson(f"Failed to parse schema JSON: {exc}")
        return cls.from_map(data)

    def to_dict(self) -> dict:
        return {
            "node_props": {
                label: [p.to_dict() for p in props]
                for label, props in self.node_props.items()
            },
            "rel_props": {
                rt: [p.to_dict() for p in props]
                for rt, props in self.rel_props.items()
            },
            "relationships": [r.to_dict() for r in self.relationships],
            "metadata": self.metadata.to_dict(),
        }

    def to_json_string(self) -> str:
        """schema.rs:343-353."""
        return json.dumps(self.to_dict(), indent=2)

    def __str__(self) -> str:
        """Binding __str__ (lib.rs:1444-1492): sectioned plain-text dump."""
        out = ["Nodes:\n"]
        for label, props in self.node_props.items():
            out.append(f"{label}:\n")
            for p in props:
                out.append(f"{p}\n")
        if self.rel_props:
            out.append("Relationship Properties:\n")
            for rt, props in self.rel_props.items():
                out.append(f"{rt}:\n")
                for p in props:
                    out.append(f"{p}\n")
        if self.relationships:
            out.append("Relationships:\n")
            for r in self.relationships:
                out.append(f"{r}\n")
        if self.metadata.constraint:
            out.append("Constraints:\n")
            for c in self.metadata.constraint:
                out.append(f"{c}\n")
        if self.metadata.index:
            out.append("Indexes:\n")
            for i in self.metadata.index:
                out.append(f"{i}\n")
        return "".join(out)

    def __repr__(self) -> str:
        """Binding __repr__ (lib.rs:1494-1530)."""
        node_strs = [
            f"'{label}': {', '.join(repr(p) for p in props)}"
            for label, props in self.node_props.items()
        ]
        rel_strs = [
            f"'{rt}': {', '.join(repr(p) for p in props)}"
            for rt, props in self.rel_props.items()
        ]
        rels = ", ".join(repr(r) for r in self.relationships)
        return (
            "DbSchema(node_props={"
            + ", ".join(node_strs)
            + "}, rel_props={"
            + ", ".join(rel_strs)
            + "}, relationships=["
            + rels
            + "], metadata="
            + repr(self.metadata)
            + ")"
        )

    # -- mutation (invalidates caches; core CRUD parity, schema.rs:377-534) --

    def _dirty(self):
        self._node_prop_names = None
        self._rel_prop_names = None
        self._all_prop_names = None
        self._rel_first_pattern = None
        # CRUD operates on the core schema (schema.rs methods), so a
        # mutated schema is by definition core-backed.
        self._core_populated = True

    def add_label(self, label: str):
        if self.has_label(label):
            raise E.DuplicateSchemaLabel(
                f"Duplicate label: Label '{label}' already exists"
            )
        self.node_props[label] = []
        self._dirty()

    def add_node_property(self, label: str, prop: DbSchemaProperty):
        props = self.node_props.setdefault(label, [])
        if any(p.name == prop.name for p in props):
            raise E.DuplicateSchemaProperty(
                f"Duplicate property: Property '{prop.name}' already exists "
                f"for label '{label}'"
            )
        props.append(prop)
        self._dirty()

    def add_relationship_property(self, rel_type: str, prop: DbSchemaProperty):
        """schema.rs:463-481."""
        props = self.rel_props.setdefault(rel_type, [])
        if any(p.name == prop.name for p in props):
            raise E.DuplicateSchemaProperty(
                f"Duplicate property: Property '{prop.name}' already exists "
                f"for relationship '{rel_type}'"
            )
        props.append(prop)
        self._dirty()

    def remove_relationship_property(self, rel_type: str, property_name: str):
        """schema.rs:484-515."""
        props = self.rel_props.get(rel_type)
        if props is None:
            raise E.SchemaRelationshipNotFound(
                f"Relationship not found: Relationship type '{rel_type}' not found"
            )
        remaining = [p for p in props if p.name != property_name]
        if len(remaining) == len(props):
            raise E.SchemaPropertyNotFound(
                f"Property not found: Property '{property_name}' not found "
                f"for relationship '{rel_type}'"
            )
        if remaining:
            self.rel_props[rel_type] = remaining
        else:
            del self.rel_props[rel_type]
        self._dirty()

    def add_relationship_pattern(self, pattern: DbSchemaRelationshipPattern):
        """schema.rs:518-534."""
        if pattern in self.relationships:
            raise E.DuplicateSchemaRelationship(
                f"Duplicate relationship: Relationship pattern "
                f"'({pattern.start})--[{pattern.rel_type}]--->({pattern.end})' "
                f"already exists"
            )
        self.relationships.append(pattern)
        self._dirty()

    # -- predicates (schema.rs:419-461, evaluated against the CORE schema:
    #    empty for kwargs-constructed objects, lib.rs:1269) ----------------

    def has_label(self, label: str) -> bool:
        return self._core_populated and label in self.node_props

    def has_node_property(self, label: str, property_name: str) -> bool:
        if not self._core_populated:
            return False
        if self._node_prop_names is None:
            self._build_caches()
        names = self._node_prop_names.get(label)
        return names is not None and property_name in names

    def get_node_properties(self, label: str):
        if not self._core_populated:
            return None
        return self.node_props.get(label)

    get_node_property = _property_lookup("node_props")
    get_relationship_property = _property_lookup("rel_props")

    def has_property_in_nodes(self, property_name: str) -> bool:
        if not self._core_populated:
            return False
        if self._node_prop_names is None:
            self._build_caches()
        return any(property_name in names for names in self._node_prop_names.values())

    def has_relationship_type(self, rel_type: str) -> bool:
        if not self._core_populated:
            return False
        if self._rel_first_pattern is None:
            self._build_caches()
        return rel_type in self.rel_props or rel_type in self._rel_first_pattern

    def has_relationship_property(self, rel_type: str, property_name: str) -> bool:
        if not self._core_populated:
            return False
        if self._rel_prop_names is None:
            self._build_caches()
        names = self._rel_prop_names.get(rel_type)
        return names is not None and property_name in names

    def has_property_anywhere(self, property_name: str) -> bool:
        """Global existence probe used by validation check ⑦ (validation.rs:706-724)."""
        if not self._core_populated:
            return False
        if self._all_prop_names is None:
            self._build_caches()
        return property_name in self._all_prop_names

    def first_relationship_pattern(self, rel_type: str):
        """First schema pattern with the type — validation.rs:613-618 parity."""
        if not self._core_populated:
            return None
        if self._rel_first_pattern is None:
            self._build_caches()
        return self._rel_first_pattern.get(rel_type)

    def _build_caches(self):
        self._node_prop_names = {
            label: {p.name for p in props} for label, props in self.node_props.items()
        }
        self._rel_prop_names = {
            rt: {p.name for p in props} for rt, props in self.rel_props.items()
        }
        self._all_prop_names = set()
        for names in self._node_prop_names.values():
            self._all_prop_names |= names
        for names in self._rel_prop_names.values():
            self._all_prop_names |= names
        self._rel_first_pattern = {}
        for r in self.relationships:
            self._rel_first_pattern.setdefault(r.rel_type, r)

    # -- consistency ---------------------------------------------------------

    def validate(self):
        """schema.rs:538-561 — every pattern's start/end label must exist."""
        for pattern in self.relationships:
            if pattern.start not in self.node_props:
                raise E.SchemaLabelNotFound(
                    f"Label not found: Start label '{pattern.start}' in "
                    f"relationship pattern not found"
                )
            if pattern.end not in self.node_props:
                raise E.SchemaLabelNotFound(
                    f"Label not found: End label '{pattern.end}' in "
                    f"relationship pattern not found"
                )

    def __getstate__(self):
        # Broadcast-friendly: ship only the data, rebuild caches per executor.
        return {"data": self.to_dict(), "core_populated": self._core_populated}

    def __setstate__(self, state):
        fresh = DbSchema.from_dict(state["data"])
        fresh._core_populated = state["core_populated"]
        self.__dict__.update(fresh.__dict__)
