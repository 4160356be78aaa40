"""Schema-object API parity, anchored to the REFERENCE'S OWN test suite.

Every test here is a transcription of an assertion in
rust/python_bindings/tests/unit/test_schema.py (cited per test; the
reference file contains copy-pasted duplicates — each unique assertion is
transcribed once, citing the first occurrence). These are
reference-test-asserted anchors in the same sense as
tests/test_reference_expectations.py: if the port's schema surface drifts
from the pyo3 bindings (repr/str strings, to_dict shapes, builtin
KeyError/ValueError/TypeError behavior), these fail independently of any
port-generated golden data.

The final class covers CODE-DERIVED quirks: behaviors read directly from
rust/python_bindings/src/lib.rs that no reference test asserts (cited to
the source lines instead).
"""

import pytest

from cypher_guard_spark.guard import (
    CypherParsingError,
    CypherValidationError,
    DbSchema,
    DbSchemaConstraint,
    DbSchemaIndex,
    DbSchemaMetadata,
    DbSchemaProperty,
    DbSchemaRelationshipPattern,
    DuplicateSchemaLabel,
    DuplicateSchemaProperty,
    DuplicateSchemaRelationship,
    ParsingError,
    SchemaPropertyNotFound,
    SchemaRelationshipNotFound,
    ValidationError,
)

CONSTRAINT_ARGS = (
    1,
    "CONSTRAINT_NAME",
    "UNIQUE",
    "NODE",
    ["label1", "label2"],
    ["prop1", "prop2"],
    "INDEX_NAME",
    None,
)
INDEX_ARGS = ("INDEX_NAME", ["prop1", "prop2"], 10, "BTREE", 0.5, 1000)


class TestDbSchemaProperty:
    def test_valid_property_types(self):
        # test_schema.py:7-12
        for t in ["STRING", "INTEGER", "FLOAT", "BOOLEAN", "POINT", "DATE_TIME", "LIST"]:
            assert DbSchemaProperty("test", t).neo4j_type == t

    def test_invalid_type_string(self):
        # test_schema.py:14-17 (pytest.raises(Exception) — pyo3 raises ValueError)
        with pytest.raises(ValueError):
            DbSchemaProperty("test", "INVALID_TYPE")

    def test_init_from_args(self):
        # test_schema.py:19-27
        prop = DbSchemaProperty("name", "STRING")
        assert prop.name == "name"
        assert prop.neo4j_type == "STRING"
        assert prop.enum_values is None
        assert prop.min_value is None
        assert prop.max_value is None

    def test_init_invalid_arg_type(self):
        # test_schema.py:29-32
        with pytest.raises(TypeError):
            DbSchemaProperty("name", 10)

    def test_from_dict_valid(self):
        # test_schema.py:63-71
        prop = DbSchemaProperty.from_dict(
            {
                "name": "name",
                "neo4j_type": "STRING",
                "enum_values": ["value1", "value2"],
                "min_value": None,
                "max_value": None,
                "distinct_value_count": None,
                "example_values": None,
            }
        )
        assert prop.name == "name"
        assert prop.neo4j_type == "STRING"
        assert prop.enum_values == ["value1", "value2"]
        assert prop.min_value is None
        assert prop.max_value is None

    def test_from_dict_minimal_keys(self):
        # test_schema.py:81-91
        prop = DbSchemaProperty.from_dict(
            {"name": "name", "neo4j_type": "STRING", "enum_values": ["value1", "value2"]}
        )
        assert prop.enum_values == ["value1", "value2"]
        assert prop.min_value is None
        assert prop.max_value is None

    def test_from_dict_invalid_neo4j_type(self):
        # test_schema.py:93-95
        with pytest.raises(ValueError):
            DbSchemaProperty.from_dict({"name": "name", "neo4j_type": "bigint"})

    def test_to_dict_omits_none_fields(self):
        # test_schema.py:100-102
        prop = DbSchemaProperty("name", "STRING", enum_values=["value1", "value2"])
        assert prop.to_dict() == {
            "name": "name",
            "neo4j_type": "STRING",
            "enum_values": ["value1", "value2"],
        }

    def test_repr_with_enum_values(self):
        # test_schema.py:104-106
        prop = DbSchemaProperty("name", "STRING", enum_values=["value1", "value2"])
        assert repr(prop) == (
            "DbSchemaProperty(name=name, neo4j_type=STRING, "
            "enum_values=['value1', 'value2'], min_value=None, max_value=None, "
            "distinct_value_count=None, example_values=None)"
        )

    def test_repr_without_enum_values(self):
        # test_schema.py:108-110
        prop = DbSchemaProperty("name", "STRING")
        assert repr(prop) == (
            "DbSchemaProperty(name=name, neo4j_type=STRING, enum_values=None, "
            "min_value=None, max_value=None, distinct_value_count=None, "
            "example_values=None)"
        )

    def test_repr_rust_float_formatting(self):
        # test_schema.py:125-127 — max_value=10 (int arg, f64 field) prints
        # "10" not "10.0" (Rust f64 Display)
        prop = DbSchemaProperty(
            "name", "STRING", min_value=1.2, max_value=10, distinct_value_count=2
        )
        assert repr(prop) == (
            "DbSchemaProperty(name=name, neo4j_type=STRING, enum_values=None, "
            "min_value=1.2, max_value=10, distinct_value_count=2, "
            "example_values=None)"
        )

    def test_str(self):
        # test_schema.py:129-131
        prop = DbSchemaProperty("name", "STRING", enum_values=["value1", "value2"])
        assert str(prop) == "name: STRING"


class TestDbSchemaRelationshipPattern:
    def test_init_from_args(self):
        # test_schema.py:133-138
        rel = DbSchemaRelationshipPattern("nodeA", "nodeB", "REL_A")
        assert rel.start == "nodeA"
        assert rel.end == "nodeB"
        assert rel.rel_type == "REL_A"

    def test_init_invalid_arg_type(self):
        # test_schema.py:140-142
        with pytest.raises(TypeError):
            DbSchemaRelationshipPattern("nodeA", "nodeB", 10)

    def test_from_dict_valid(self):
        # test_schema.py:162-169
        rel = DbSchemaRelationshipPattern.from_dict(
            {"start": "nodeA", "end": "nodeB", "rel_type": "REL_A"}
        )
        assert (rel.start, rel.end, rel.rel_type) == ("nodeA", "nodeB", "REL_A")

    def test_from_dict_invalid_arg_type(self):
        # test_schema.py:171-173
        with pytest.raises(TypeError):
            DbSchemaRelationshipPattern.from_dict(
                {"start": "nodeA", "end": "nodeB", "rel_type": 10}
            )

    def test_from_dict_missing_key(self):
        # test_schema.py:175-177
        with pytest.raises(KeyError):
            DbSchemaRelationshipPattern.from_dict({"start": "nodeA", "end": "nodeB"})

    def test_repr(self):
        # test_schema.py:179-181
        rel = DbSchemaRelationshipPattern("nodeA", "nodeB", "REL_A")
        assert repr(rel) == (
            "DbSchemaRelationshipPattern(start=nodeA, end=nodeB, rel_type=REL_A)"
        )

    def test_str(self):
        # test_schema.py:194-196
        rel = DbSchemaRelationshipPattern("nodeA", "nodeB", "REL_A")
        assert str(rel) == "(:nodeA)-[:REL_A]->(:nodeB)"

    def test_to_dict(self):
        # test_schema.py:198-200
        rel = DbSchemaRelationshipPattern("nodeA", "nodeB", "REL_A")
        assert rel.to_dict() == {"start": "nodeA", "end": "nodeB", "rel_type": "REL_A"}


class TestDbSchemaConstraint:
    def test_init_from_args(self):
        # test_schema.py:203-207
        c = DbSchemaConstraint(*CONSTRAINT_ARGS)
        assert c.id == 1
        assert c.name == "CONSTRAINT_NAME"

    def test_init_invalid_arg_type(self):
        # test_schema.py:209-211 — owned_index=10
        with pytest.raises(TypeError):
            DbSchemaConstraint(
                1, "CONSTRAINT_NAME", "UNIQUE", "NODE",
                ["label1", "label2"], ["prop1", "prop2"], 10, None,
            )

    def test_from_dict_valid(self):
        # test_schema.py:213-222
        c = DbSchemaConstraint.from_dict(
            {
                "id": 1,
                "name": "CONSTRAINT_NAME",
                "constraint_type": "UNIQUE",
                "entity_type": "NODE",
                "labels_or_types": ["label1"],
                "properties": ["prop1", "prop2"],
                "owned_index": "INDEX_NAME",
                "property_type": None,
            }
        )
        assert c.id == 1
        assert c.name == "CONSTRAINT_NAME"
        assert c.constraint_type == "UNIQUE"
        assert c.entity_type == "NODE"
        assert c.labels_or_types == ["label1"]
        assert c.properties == ["prop1", "prop2"]
        assert c.owned_index == "INDEX_NAME"

    def test_from_dict_invalid_arg_type(self):
        # test_schema.py:224-226 — owned_index=10
        with pytest.raises(TypeError):
            DbSchemaConstraint.from_dict(
                {
                    "id": 1,
                    "name": "CONSTRAINT_NAME",
                    "constraint_type": "UNIQUE",
                    "entity_type": "NODE",
                    "labels_or_types": ["label1"],
                    "properties": ["prop1", "prop2"],
                    "owned_index": 10,
                    "property_type": None,
                }
            )

    def test_repr(self):
        # test_schema.py:228-230 — list items joined WITHOUT quotes
        c = DbSchemaConstraint(*CONSTRAINT_ARGS)
        assert repr(c) == (
            "DbSchemaConstraint(id=1, name=CONSTRAINT_NAME, constraint_type=UNIQUE, "
            "entity_type=NODE, labels_or_types=[label1, label2], "
            "properties=[prop1, prop2], owned_index=INDEX_NAME, property_type=None)"
        )

    def test_str(self):
        # test_schema.py:232-234
        c = DbSchemaConstraint(*CONSTRAINT_ARGS)
        assert str(c) == (
            "UNIQUE CONSTRAINT CONSTRAINT_NAME ON NODE (label1, label2).{prop1, prop2}"
        )

    def test_to_dict_includes_none_property_type(self):
        # test_schema.py:236-238
        c = DbSchemaConstraint(*CONSTRAINT_ARGS)
        assert c.to_dict() == {
            "id": 1,
            "name": "CONSTRAINT_NAME",
            "constraint_type": "UNIQUE",
            "entity_type": "NODE",
            "labels_or_types": ["label1", "label2"],
            "properties": ["prop1", "prop2"],
            "owned_index": "INDEX_NAME",
            "property_type": None,
        }


class TestDbSchemaIndex:
    def test_init_from_args(self):
        # test_schema.py:240-248
        idx = DbSchemaIndex(*INDEX_ARGS)
        assert idx.label == "INDEX_NAME"
        assert idx.properties == ["prop1", "prop2"]
        assert idx.size == 10
        assert idx.index_type == "BTREE"
        assert idx.values_selectivity == 0.5
        assert idx.distinct_values == 1000

    def test_init_invalid_arg_type(self):
        # test_schema.py:250-252 — distinct_values="1000" (f64 field)
        with pytest.raises(TypeError):
            DbSchemaIndex("INDEX_NAME", ["prop1", "prop2"], 10, "BTREE", 0.5, "1000")

    def test_from_dict_valid(self):
        # test_schema.py:254-262
        idx = DbSchemaIndex.from_dict(
            {
                "label": "INDEX_NAME",
                "properties": ["prop1", "prop2"],
                "size": 10,
                "index_type": "BTREE",
                "values_selectivity": 0.5,
                "distinct_values": 1000,
            }
        )
        assert idx.label == "INDEX_NAME"
        assert idx.size == 10
        assert idx.values_selectivity == 0.5
        assert idx.distinct_values == 1000

    def test_from_dict_invalid_arg_type(self):
        # test_schema.py:264-266
        with pytest.raises(TypeError):
            DbSchemaIndex.from_dict(
                {
                    "label": "INDEX_NAME",
                    "properties": ["prop1", "prop2"],
                    "size": 10,
                    "index_type": "BTREE",
                    "values_selectivity": 0.5,
                    "distinct_values": "1000",
                }
            )

    def test_repr(self):
        # test_schema.py:268-270 — distinct_values=1000 (not 1000.0)
        idx = DbSchemaIndex(*INDEX_ARGS)
        assert repr(idx) == (
            "DbSchemaIndex(label=INDEX_NAME, properties=[prop1, prop2], size=10, "
            "index_type=BTREE, values_selectivity=0.5, distinct_values=1000)"
        )

    def test_str(self):
        # test_schema.py:272-274
        idx = DbSchemaIndex(*INDEX_ARGS)
        assert str(idx) == "INDEX BTREE ON INDEX_NAME (prop1, prop2)"

    def test_to_dict(self):
        # test_schema.py:276-278
        idx = DbSchemaIndex(*INDEX_ARGS)
        assert idx.to_dict() == {
            "label": "INDEX_NAME",
            "properties": ["prop1", "prop2"],
            "size": 10,
            "index_type": "BTREE",
            "values_selectivity": 0.5,
            "distinct_values": 1000,
        }


class TestDbSchemaMetadata:
    def _metadata(self):
        return DbSchemaMetadata(
            [DbSchemaConstraint(*CONSTRAINT_ARGS)], [DbSchemaIndex(*INDEX_ARGS)]
        )

    def test_init_from_args(self):
        # test_schema.py:280-288
        md = self._metadata()
        assert len(md.constraint) == 1
        assert len(md.index) == 1
        assert md.constraint[0].id == 1
        assert md.index[0].label == "INDEX_NAME"

    def test_from_dict(self):
        # test_schema.py:290-298 (no owned_index key in the index dict;
        # constraint dict omits property_type)
        md = DbSchemaMetadata.from_dict(
            {
                "constraint": [
                    {
                        "id": 1,
                        "name": "CONSTRAINT_NAME",
                        "constraint_type": "UNIQUE",
                        "entity_type": "NODE",
                        "labels_or_types": ["label1"],
                        "properties": ["prop1", "prop2"],
                        "owned_index": "INDEX_NAME",
                    }
                ],
                "index": [
                    {
                        "label": "INDEX_NAME",
                        "properties": ["prop1", "prop2"],
                        "size": 10,
                        "index_type": "BTREE",
                        "values_selectivity": 0.5,
                        "distinct_values": 1000,
                    }
                ],
            }
        )
        assert len(md.constraint) == 1
        assert len(md.index) == 1
        assert md.constraint[0].id == 1
        assert md.index[0].label == "INDEX_NAME"

    def test_to_dict(self):
        # test_schema.py:300-304
        md = self._metadata()
        assert md.to_dict() == {
            "constraint": [md.constraint[0].to_dict()],
            "index": [md.index[0].to_dict()],
        }

    def test_repr(self):
        # test_schema.py:306-310
        md = self._metadata()
        assert repr(md) == (
            "DbSchemaMetadata(constraint=[DbSchemaConstraint(id=1, "
            "name=CONSTRAINT_NAME, constraint_type=UNIQUE, entity_type=NODE, "
            "labels_or_types=[label1, label2], properties=[prop1, prop2], "
            "owned_index=INDEX_NAME, property_type=None)], "
            "index=[DbSchemaIndex(label=INDEX_NAME, properties=[prop1, prop2], "
            "size=10, index_type=BTREE, values_selectivity=0.5, "
            "distinct_values=1000)])"
        )

    def test_str(self):
        # test_schema.py:312-317
        md = self._metadata()
        assert str(md) == (
            "DbSchemaMetadata(constraint=[UNIQUE CONSTRAINT CONSTRAINT_NAME ON NODE "
            "(label1, label2).{prop1, prop2}], "
            "index=[INDEX BTREE ON INDEX_NAME (prop1, prop2)])"
        )


SCHEMA_DICT = {
    "node_props": {
        "nodeA": [
            {"name": "name", "neo4j_type": "STRING", "enum_values": ["value1", "value2"]},
            {"name": "age", "neo4j_type": "INTEGER"},
        ],
        "nodeB": [
            {"name": "title", "neo4j_type": "STRING", "enum_values": ["value1", "value2"]}
        ],
    },
    "rel_props": {"relA": [{"name": "num", "neo4j_type": "INTEGER"}]},
    "relationships": [{"start": "nodeA", "end": "nodeB", "rel_type": "relA"}],
    "metadata": {
        "constraint": [
            {
                "id": 1,
                "name": "CONSTRAINT_NAME",
                "constraint_type": "UNIQUE",
                "entity_type": "NODE",
                "labels_or_types": ["label1", "label2"],
                "properties": ["prop1", "prop2"],
                "owned_index": "INDEX_NAME",
                "property_type": None,
            }
        ],
        "index": [
            {
                "label": "INDEX_NAME",
                "properties": ["prop1", "prop2"],
                "size": 10,
                "index_type": "BTREE",
                "values_selectivity": 0.5,
                "distinct_values": 1000,
            }
        ],
    },
}


class TestDbSchema:
    def test_init_from_args(self):
        # test_schema.py:319-346
        node_a = [
            DbSchemaProperty("name", neo4j_type="STRING", enum_values=["value1", "value2"]),
            DbSchemaProperty("age", "INTEGER"),
        ]
        node_b = [DbSchemaProperty("title", "STRING", enum_values=["value1", "value2"])]
        rel_a = [DbSchemaProperty("num", "INTEGER")]
        schema = DbSchema(
            node_props={"nodeA": node_a, "nodeB": node_b},
            rel_props={"relA": rel_a},
            relationships=[DbSchemaRelationshipPattern("nodeA", "nodeB", "relA")],
            metadata=DbSchemaMetadata(
                [DbSchemaConstraint(*CONSTRAINT_ARGS)], [DbSchemaIndex(*INDEX_ARGS)]
            ),
        )
        assert len(schema.node_props) == 2
        assert len(schema.node_props["nodeA"]) == 2
        assert len(schema.node_props["nodeB"]) == 1
        assert len(schema.rel_props) == 1
        assert len(schema.relationships) == 1
        assert schema.node_props["nodeA"][0].name == "name"
        assert schema.node_props["nodeB"][0].name == "title"
        assert schema.rel_props["relA"][0].name == "num"
        assert schema.relationships[0].start == "nodeA"
        assert schema.metadata.constraint[0].name == "CONSTRAINT_NAME"
        assert schema.metadata.index[0].label == "INDEX_NAME"

    def test_from_dict(self):
        # test_schema.py:502-530
        schema = DbSchema.from_dict(SCHEMA_DICT)
        assert len(schema.node_props) == 2
        assert len(schema.node_props["nodeA"]) == 2
        assert len(schema.rel_props["relA"]) == 1
        assert len(schema.relationships) == 1
        assert schema.node_props["nodeA"][0].name == "name"
        assert schema.node_props["nodeA"][1].name == "age"
        assert schema.rel_props["relA"][0].name == "num"
        assert schema.relationships[0].start == "nodeA"
        assert schema.metadata.constraint[0].name == "CONSTRAINT_NAME"
        assert schema.metadata.index[0].label == "INDEX_NAME"

    def test_to_dict_round_trip(self):
        # test_schema.py:532-543 — to_dict() == the input dict exactly
        # (None-valued optional property fields omitted)
        d = {
            "node_props": {
                "nodeA": [
                    {
                        "name": "name",
                        "neo4j_type": "STRING",
                        "enum_values": ["value1", "value2"],
                    },
                    {"name": "age", "neo4j_type": "INTEGER"},
                ]
            },
            "rel_props": {"relA": [{"name": "num", "neo4j_type": "INTEGER"}]},
            "relationships": [{"start": "nodeA", "end": "nodeB", "rel_type": "relA"}],
            "metadata": SCHEMA_DICT["metadata"],
        }
        schema = DbSchema.from_dict(d)
        assert schema.to_dict() == d

    def test_str_sections(self):
        # test_schema.py:546-577
        schema = DbSchema.from_dict(SCHEMA_DICT)
        s = str(schema)
        assert "Nodes:" in s
        assert "nodeA:\nname: STRING\nage: INTEGER" in s
        assert "nodeB:\ntitle: STRING" in s
        assert "Relationship Properties:" in s
        assert "relA:\nnum: INTEGER" in s
        assert "Relationships:" in s
        assert "(:nodeA)-[:relA]->(:nodeB)" in s
        assert "Constraints:" in s
        assert (
            "UNIQUE CONSTRAINT CONSTRAINT_NAME ON NODE (label1, label2).{prop1, prop2}"
            in s
        )
        assert "Indexes:" in s
        assert "INDEX BTREE ON INDEX_NAME (prop1, prop2)" in s

    def test_repr_contains(self):
        # test_schema.py:579-593
        schema = DbSchema.from_dict(SCHEMA_DICT)
        r = repr(schema)
        assert "DbSchema(node_props={" in r
        assert (
            "'nodeA': DbSchemaProperty(name=name, neo4j_type=STRING, "
            "enum_values=['value1', 'value2'], min_value=None, max_value=None, "
            "distinct_value_count=None, example_values=None)" in r
        )
        assert (
            "DbSchemaProperty(name=age, neo4j_type=INTEGER, enum_values=None, "
            "min_value=None, max_value=None, distinct_value_count=None, "
            "example_values=None)" in r
        )
        assert (
            "'nodeB': DbSchemaProperty(name=title, neo4j_type=STRING, "
            "enum_values=['value1', 'value2'], min_value=None, max_value=None, "
            "distinct_value_count=None, example_values=None)" in r
        )
        assert (
            "relationships=[DbSchemaRelationshipPattern(start=nodeA, end=nodeB, "
            "rel_type=relA)]," in r
        )


class TestCodeDerivedBindingQuirks:
    """Behaviors read from rust/python_bindings/src/lib.rs that no reference
    test asserts — cited to source lines, not test lines."""

    def test_kwargs_constructor_leaves_core_empty(self):
        # lib.rs:1269: DbSchema::new sets inner = CoreDbSchema::new() and
        # never populates it from the kwargs, so has_label/has_node_property
        # (lib.rs:1279-1285, which delegate to inner) see an EMPTY schema.
        schema = DbSchema(
            node_props={"nodeA": [DbSchemaProperty("name", "STRING")]},
        )
        assert schema.node_props["nodeA"][0].name == "name"  # getter surface intact
        assert schema.has_label("nodeA") is False
        assert schema.has_node_property("nodeA", "name") is False
        # from_dict DOES populate the core (lib.rs:1293-1345)
        populated = DbSchema.from_dict(
            {"node_props": {"nodeA": [{"name": "name", "neo4j_type": "STRING"}]}}
        )
        assert populated.has_label("nodeA") is True
        assert populated.has_node_property("nodeA", "name") is True

    @pytest.mark.parametrize(
        "query, access",
        [
            ("MATCH (a:Person) WHERE a.name = 'x' RETURN a", "a.name"),
            ("MATCH (a:Person)-[r:KNOWS]->(b:Person) WHERE r.since = 'x' RETURN a", "r.since"),
            ("MATCH (a)-[r]->(b) WHERE r.since = 'x' RETURN a", "r.since"),
        ],
        ids=["node", "bound-relationship", "global-fallback"],
    )
    def test_kwargs_constructor_core_gates_property_comparisons(self, query, access):
        # lib.rs:1269: the property-comparison check (validation.rs:736-803)
        # reads node AND relationship properties from the empty inner core,
        # so a kwargs-built schema finds neither.
        from cypher_guard_spark.guard import validate_cypher

        schema = DbSchema(
            node_props={"Person": [DbSchemaProperty("name", "STRING")]},
            rel_props={"KNOWS": [DbSchemaProperty("since", "STRING")]},
            relationships=[DbSchemaRelationshipPattern("Person", "Person", "KNOWS")],
        )
        message = f"Invalid property access '{access}' in property comparison clause"
        assert message in validate_cypher(query, schema)
        populated = DbSchema.from_dict(schema.to_dict())
        assert message not in validate_cypher(query, populated)

    def test_get_relationship_property_is_core_gated(self):
        # the relationship twin of get_node_property: None until the core
        # is populated (lib.rs:1269)
        props = {"KNOWS": [DbSchemaProperty("since", "STRING")]}
        assert DbSchema(rel_props=props).get_relationship_property("KNOWS", "since") is None
        populated = DbSchema.from_dict({"rel_props": {"KNOWS": [{"name": "since", "type": "STRING"}]}})
        assert populated.get_relationship_property("KNOWS", "since").neo4j_type == "STRING"
        assert populated.get_relationship_property("KNOWS", "until") is None
        assert populated.get_relationship_property("LIKES", "since") is None

    def test_property_from_dict_alternate_keys(self):
        # lib.rs:492-514: 'property' and 'type' are accepted key aliases
        prop = DbSchemaProperty.from_dict({"property": "age", "type": "INTEGER"})
        assert prop.name == "age"
        assert prop.neo4j_type == "INTEGER"

    def test_property_from_dict_min_max_gated_on_raw_type_string(self):
        # lib.rs:552-556: min/max read only when the RAW string is
        # "INTEGER"/"FLOAT" — the "INT" alias resolves to INTEGER but skips
        # min/max entirely.
        direct = DbSchemaProperty.from_dict(
            {"name": "age", "neo4j_type": "INTEGER", "min_value": 0, "max_value": 120}
        )
        assert direct.min_value == 0.0 and direct.max_value == 120.0
        aliased = DbSchemaProperty.from_dict(
            {"name": "age", "neo4j_type": "INT", "min_value": 0, "max_value": 120}
        )
        assert aliased.neo4j_type == "INTEGER"
        assert aliased.min_value is None and aliased.max_value is None
        # STRING properties never get min/max even if supplied
        s = DbSchemaProperty.from_dict(
            {"name": "name", "neo4j_type": "STRING", "min_value": 1}
        )
        assert s.min_value is None

    def test_property_from_dict_numeric_strings_and_bad_floats(self):
        # lib.rs:544-550: min/max accept numeric strings; unparseable -> None
        prop = DbSchemaProperty.from_dict(
            {"name": "age", "neo4j_type": "INTEGER", "min": "1.5", "max": "oops"}
        )
        assert prop.min_value == 1.5
        assert prop.max_value is None

    def test_property_from_dict_values_len_gate(self):
        # lib.rs:527-539: 'values' doubles as enum_values ONLY when its
        # length equals distinct_value_count; it always feeds example_values.
        gated = DbSchemaProperty.from_dict(
            {
                "name": "kind",
                "neo4j_type": "STRING",
                "values": ["a", "b"],
                "distinct_count": 2,
            }
        )
        assert gated.enum_values == ["a", "b"]
        assert gated.example_values == ["a", "b"]
        ungated = DbSchemaProperty.from_dict(
            {
                "name": "kind",
                "neo4j_type": "STRING",
                "values": ["a", "b"],
                "distinct_count": 3,
            }
        )
        assert ungated.enum_values is None
        assert ungated.example_values == ["a", "b"]

    def test_property_from_dict_missing_keys(self):
        # lib.rs:492-514: KeyError, not a custom exception
        with pytest.raises(KeyError):
            DbSchemaProperty.from_dict({"neo4j_type": "STRING"})
        with pytest.raises(KeyError):
            DbSchemaProperty.from_dict({"name": "x"})

    def test_property_type_trimmed_and_lowercased(self):
        # lib.rs:403: s.trim().to_uppercase() — bindings accept " str "
        assert DbSchemaProperty("x", "  str  ").neo4j_type == "STRING"
        assert DbSchemaProperty("x", "bool").neo4j_type == "BOOLEAN"

    def test_duplicate_label_from_dict_is_value_error(self):
        # lib.rs:1300-1302: core AddLabel error surfaced as ValueError with
        # the core Display text (schema.rs duplicate-label message)
        with pytest.raises(ValueError, match="already exists"):
            DbSchema.from_dict(
                {
                    "node_props": {
                        "nodeA": [
                            {"name": "p", "neo4j_type": "STRING"},
                            {"name": "p", "neo4j_type": "STRING"},
                        ]
                    }
                }
            )

    def test_constraint_owned_index_none_becomes_empty_string(self):
        # lib.rs:851: owned_index.unwrap_or_default()
        c = DbSchemaConstraint(
            1, "C", "UNIQUE", "NODE", ["l"], ["p"], None, None
        )
        assert c.owned_index == ""


class TestCoreCrudMethods:
    """The core schema CRUD methods (schema.rs:377-534): typed errors with
    the core Display text, cache invalidation, and the core-population
    switch. `from_dict` surfaces the same duplicate errors as ValueError
    with the same text (lib.rs:1300-1302)."""

    @staticmethod
    def _schema():
        return DbSchema.from_dict(
            {
                "node_props": {"A": [{"name": "p", "neo4j_type": "STRING"}], "B": []},
                "rel_props": {"R": [{"name": "w", "neo4j_type": "INTEGER"}]},
                "relationships": [{"start": "A", "end": "B", "rel_type": "R"}],
            }
        )

    def test_add_label(self):
        schema = self._schema()
        schema.add_label("C")
        assert schema.has_label("C") and schema.node_props["C"] == []
        with pytest.raises(DuplicateSchemaLabel) as exc:
            schema.add_label("A")
        assert str(exc.value) == "Duplicate label: Label 'A' already exists"

    def test_add_node_property(self):
        schema = self._schema()
        schema.add_node_property("B", DbSchemaProperty("q", "FLOAT"))
        schema.add_node_property("New", DbSchemaProperty("q", "FLOAT"))
        assert [p.name for p in schema.node_props["B"]] == ["q"]
        assert schema.has_label("New")
        with pytest.raises(DuplicateSchemaProperty) as exc:
            schema.add_node_property("A", DbSchemaProperty("p", "INTEGER"))
        assert str(exc.value) == (
            "Duplicate property: Property 'p' already exists for label 'A'"
        )

    def test_add_relationship_property(self):
        schema = self._schema()
        schema.add_relationship_property("S", DbSchemaProperty("w", "STRING"))
        assert schema.has_relationship_type("S")
        with pytest.raises(DuplicateSchemaProperty) as exc:
            schema.add_relationship_property("R", DbSchemaProperty("w", "STRING"))
        assert str(exc.value) == (
            "Duplicate property: Property 'w' already exists for relationship 'R'"
        )

    def test_add_relationship_pattern(self):
        schema = self._schema()
        schema.add_relationship_pattern(DbSchemaRelationshipPattern("B", "A", "R"))
        assert len(schema.relationships) == 2
        with pytest.raises(DuplicateSchemaRelationship) as exc:
            schema.add_relationship_pattern(DbSchemaRelationshipPattern("A", "B", "R"))
        assert str(exc.value) == (
            "Duplicate relationship: Relationship pattern '(A)--[R]--->(B)' already exists"
        )

    def test_remove_relationship_property(self):
        schema = self._schema()
        schema.add_relationship_property("R", DbSchemaProperty("v", "STRING"))
        schema.remove_relationship_property("R", "w")
        assert [p.name for p in schema.rel_props["R"]] == ["v"]
        with pytest.raises(SchemaRelationshipNotFound) as exc:
            schema.remove_relationship_property("Nope", "w")
        assert str(exc.value) == (
            "Relationship not found: Relationship type 'Nope' not found"
        )
        with pytest.raises(SchemaPropertyNotFound) as exc:
            schema.remove_relationship_property("R", "w")
        assert str(exc.value) == (
            "Property not found: Property 'w' not found for relationship 'R'"
        )

    def test_removing_last_property_drops_the_type(self):
        schema = DbSchema.from_dict(
            {"rel_props": {"S": [{"name": "w", "neo4j_type": "INTEGER"}]}}
        )
        assert schema.has_relationship_type("S")
        schema.remove_relationship_property("S", "w")
        assert "S" not in schema.rel_props
        assert schema.has_relationship_type("S") is False

    def test_caches_see_a_mutation(self):
        schema = self._schema()
        # warm every derived cache first
        assert schema.has_node_property("A", "p")
        assert schema.has_relationship_property("R", "w")
        assert not schema.has_property_anywhere("z")
        assert schema.first_relationship_pattern("T") is None
        assert not schema.has_relationship_type("T")
        schema.add_node_property("A", DbSchemaProperty("z", "STRING"))
        assert schema.has_node_property("A", "z")
        assert schema.has_property_in_nodes("z")
        assert schema.has_property_anywhere("z")
        schema.add_relationship_property("R", DbSchemaProperty("y", "STRING"))
        assert schema.has_relationship_property("R", "y")
        assert schema.has_property_anywhere("y")
        schema.add_relationship_pattern(DbSchemaRelationshipPattern("A", "B", "T"))
        assert schema.has_relationship_type("T")
        assert schema.first_relationship_pattern("T").end == "B"
        schema.remove_relationship_property("R", "w")
        assert not schema.has_relationship_property("R", "w")
        assert not schema.has_property_anywhere("w")

    def test_kwargs_schema_is_core_populated_after_a_mutation(self):
        schema = DbSchema(node_props={"A": [DbSchemaProperty("p", "STRING")]})
        assert schema.has_label("A") is False
        assert schema.get_node_property("A", "p") is None
        schema.add_label("C")
        assert schema.has_label("A") and schema.has_label("C")
        assert schema.has_node_property("A", "p")
        assert schema.get_node_property("A", "p").neo4j_type == "STRING"

    def test_from_dict_duplicate_relationship_property_is_value_error(self):
        with pytest.raises(ValueError) as exc:
            DbSchema.from_dict(
                {
                    "rel_props": {
                        "R": [
                            {"name": "w", "neo4j_type": "INTEGER"},
                            {"name": "w", "neo4j_type": "STRING"},
                        ]
                    }
                }
            )
        assert type(exc.value) is ValueError
        assert str(exc.value) == (
            "Duplicate property: Property 'w' already exists for relationship 'R'"
        )

    def test_from_dict_duplicate_relationship_pattern_is_value_error(self):
        rel = {"start": "A", "end": "B", "rel_type": "R"}
        with pytest.raises(ValueError) as exc:
            DbSchema.from_dict({"relationships": [rel, {"type": "R", **rel}]})
        assert type(exc.value) is ValueError
        assert str(exc.value) == (
            "Duplicate relationship: Relationship pattern '(A)--[R]--->(B)' already exists"
        )

    def test_from_dict_duplicate_node_property_is_value_error(self):
        with pytest.raises(ValueError) as exc:
            DbSchema.from_dict(
                {
                    "node_props": {
                        "A": [
                            {"name": "p", "neo4j_type": "STRING"},
                            {"property": "p", "type": "INTEGER"},
                        ]
                    }
                }
            )
        assert type(exc.value) is ValueError
        assert str(exc.value) == (
            "Duplicate property: Property 'p' already exists for label 'A'"
        )


def test_module_exception_surface_matches_reference():
    """The reference module registers its whole exception taxonomy at top
    level (python_bindings/src/lib.rs:1713-1905, create_exception! blocks
    at :10-95): a drop-in user can `from cypher_guard import X` and catch
    by name for all 63 names below. Every name must be importable from
    cypher_guard_spark.guard with the SAME base class the reference
    declares (validation/parsing/schema family)."""
    import cypher_guard_spark.guard as guard

    FAMILIES = {
        "CypherValidationError": [
            "InvalidNodeLabel", "InvalidRelationshipType", "InvalidNodeProperty",
            "InvalidRelationshipProperty", "InvalidPropertyAccess",
            "InvalidPropertyName", "UndefinedVariable", "TypeMismatch",
            "InvalidRelationship", "InvalidLabel", "InvalidPropertyType",
        ],
        "CypherParsingError": [
            "NomParsingError", "UnexpectedEndOfInput", "ExpectedToken",
            "InvalidSyntax", "ParsingUndefinedVariable", "MissingRequiredClause",
            "InvalidClauseOrder", "ReturnBeforeOtherClauses", "MatchAfterReturn",
            "CreateAfterReturn", "MergeAfterReturn", "DeleteAfterReturn",
            "SetAfterReturn", "WhereAfterReturn", "WithAfterReturn",
            "UnwindAfterReturn", "WhereBeforeMatch", "ReturnAfterReturn",
            "OrderByBeforeReturn", "SkipBeforeReturn", "LimitBeforeReturn",
            "InvalidPattern", "InvalidWhereCondition", "InvalidExpression",
        ],
        "CypherSchemaError": [
            "InvalidSchemaFormat", "MissingSchemaField", "InvalidSchemaPropertyType",
            "DuplicateSchemaDefinition", "InvalidSchemaPropertyName",
            "InvalidSchemaRelationshipPattern", "InvalidSchemaConstraint",
            "InvalidSchemaIndex", "InvalidSchemaMetadata", "InvalidSchemaEnumValues",
            "InvalidSchemaValueRange", "InvalidSchemaDistinctValueCount",
            "InvalidSchemaExampleValues", "InvalidSchemaJson", "SchemaIoError",
            "SchemaLabelNotFound", "DuplicateSchemaLabel",
            "SchemaRelationshipNotFound", "DuplicateSchemaRelationship",
            "SchemaPropertyNotFound", "DuplicateSchemaProperty",
            "SchemaFileOpenError", "SchemaFileCreateError", "SchemaJsonReadError",
            "SchemaSerializationError",
        ],
    }
    n = 0
    for base_name, members in FAMILIES.items():
        base = getattr(guard, base_name)
        assert issubclass(base, Exception)
        n += 1
        for name in members:
            cls = getattr(guard, name, None)
            assert cls is not None, f"{name} not exported from guard"
            assert issubclass(cls, base), f"{name} must subclass {base_name}"
            assert name in guard.__all__, name
            n += 1
    assert n == 63


def test_every_error_code_raises_its_own_class(monkeypatch):
    """A parsing or validation error's code is its exception class's name:
    `ParsingError.to_exception` and `validate_cypher_with_schema`'s raise
    (lib.rs:122-141) both map every code back to that class, message intact."""
    import cypher_guard_spark.guard as guard
    from cypher_guard_spark.guard import api

    parsing = CypherParsingError.__subclasses__()
    validation = CypherValidationError.__subclasses__()
    assert (len(parsing), len(validation)) == (24, 11)
    for cls in parsing:
        exc = ParsingError(cls.__name__, "m").to_exception()
        assert type(exc) is cls and str(exc) == "m"
        assert getattr(guard, cls.__name__) is cls
    schema = DbSchema.from_dict({"node_props": {"A": []}})
    for cls in validation:
        found = [ValidationError(cls.__name__, f"{cls.__name__} text")]
        monkeypatch.setattr(api, "validate_query_elements", lambda e, s, f=found: f)
        with pytest.raises(cls) as exc:
            api.validate_cypher_with_schema("MATCH (a:A) RETURN a", schema)
        assert type(exc.value) is cls
        assert str(exc.value) == f"{cls.__name__} text"
        assert getattr(guard, cls.__name__) is cls
