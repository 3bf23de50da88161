"""Golden parser tests ported from the reference suite.

Sources: /root/reference/tests/parser_test.py:13-398. Same inputs, same
expected outputs, run against our kernels (kernels/parsers.py).
"""

from mmkg_rag_spark.kernels.parsers import (
    parse_alias,
    parse_classify_response,
    parse_er,
    parse_image_description,
    parse_json_list,
    parse_string_list,
    scan_json_objects,
)


class TestParseER:
    def test_valid_input(self):
        rawtext = """
        {
            "name": "Entity1",
            "label": "Type1",
            "description": "Description1",
            "aliases": ["Alias1"],
            "references": ["Ref1"]
        }
        {
            "source": "Entity1",
            "label": "RelationType",
            "target": "Entity2",
            "description": "RelationDescription",
            "references": ["Ref2"]
        }
        """
        entities, relations = parse_er(rawtext)
        assert len(entities) == 1
        e = entities[0]
        assert (e.name, e.label, e.description) == ("Entity1", "Type1", "Description1")
        assert e.aliases == ["Alias1"]
        assert e.references == ["Ref1"]
        assert len(relations) == 1
        r = relations[0]
        assert (r.source, r.label, r.target) == ("Entity1", "RelationType", "Entity2")
        assert r.description == "RelationDescription"
        assert r.references == ["Ref2"]

    def test_invalid_json(self):
        rawtext = """
        {
            "name": "Entity1",
            "label": "Type1",
            "description": "Description1",
            "aliases": ["Alias1"],
            "references": ["Ref1"]
        """
        assert parse_er(rawtext) == ([], [])

    def test_empty_input(self):
        assert parse_er("") == ([], [])

    def test_partial_input(self):
        rawtext = """
        {
            "name": "Entity1",
            "label": "Type1",
            "description": "Description1",
            "aliases": ["Alias1"],
            "references": ["Ref1"]
        }
        """
        entities, relations = parse_er(rawtext)
        assert len(entities) == 1 and len(relations) == 0

    def test_multiple(self):
        rawtext = """
        {"name": "Entity1", "label": "T1", "description": "D1", "aliases": [], "references": []}
        {"name": "Entity2", "label": "T2", "description": "D2", "aliases": [], "references": []}
        {"source": "Entity1", "label": "R1", "target": "Entity2", "description": "RD1", "references": []}
        {"source": "Entity2", "label": "R2", "target": "Entity1", "description": "RD2", "references": []}
        """
        entities, relations = parse_er(rawtext)
        assert [e.name for e in entities] == ["Entity1", "Entity2"]
        assert [r.source for r in relations] == ["Entity1", "Entity2"]

    def test_missing_field_drops_object(self):
        # all-fields filter: parser.py:334-341
        rawtext = '{"name": "E", "label": "T", "description": "D", "aliases": []}'
        assert parse_er(rawtext) == ([], [])

    def test_nested_braces_invisible(self):
        # the flat regex cannot see objects containing {} — parser.py:324
        rawtext = (
            '{"name": "E", "label": "T", "description": "D",'
            ' "aliases": [], "references": [], "extra": {"x": 1}}'
        )
        assert parse_er(rawtext) == ([], [])


class TestStringList:
    def test_basic(self):
        assert parse_string_list('["a", "b"]') == ["a", "b"]

    def test_trailing_comma(self):
        assert parse_string_list('["a", "b",]') == ["a", "b"]

    def test_empty(self):
        assert parse_string_list("[]") == []

    def test_not_bracketed(self):
        import pytest

        with pytest.raises(ValueError):
            parse_string_list('"a", "b"')

    def test_escaped_quotes(self):
        assert parse_string_list(r'["a\"b"]') == ['a"b']


class TestParseAlias:
    def test_basic(self):
        text = """
        <Natural Language Processing, ["NLP"]>
        <Bidirectional Encoder Representations from Transformers, ["BERT", "Bidirectional Transformers"]>
        """
        aliases = parse_alias(text)
        assert aliases[0] == ("Natural Language Processing", ["NLP"])
        assert aliases[1] == (
            "Bidirectional Encoder Representations from Transformers",
            ["BERT", "Bidirectional Transformers"],
        )

    def test_quoted_entities(self):
        text = """
        <"Entity With Spaces", ["E1", "E2"]>
        <"Complex, Entity Name", ["CEN"]>
        """
        aliases = parse_alias(text)
        assert aliases == [
            ("Entity With Spaces", ["E1", "E2"]),
            ("Complex, Entity Name", ["CEN"]),
        ]

    def test_empty_alias_list(self):
        assert parse_alias("<Entity1, []>") == [("Entity1", [])]

    def test_malformed(self):
        text = """
        <Incomplete>
        <NoAliasList, >
        <Valid, ["alias"]>
        """
        assert parse_alias(text) == [("Valid", ["alias"])]

    def test_whitespace(self):
        text = """
        <Entity1,["a1"]>
        < Entity2 , ["a2"] >
        """
        assert parse_alias(text) == [("Entity1", ["a1"]), ("Entity2", ["a2"])]

    def test_empty_input(self):
        assert parse_alias("") == []


class TestImageDescription:
    def test_valid(self):
        text = """
        {
            "caption": "Figure 1: Test Graph",
            "text_snippets": ["x-axis", "y-axis", "data points"],
            "description": "A graph showing test data"
        }
        """
        assert parse_image_description(text) == (
            "Figure 1: Test Graph",
            ["x-axis", "y-axis", "data points"],
            "A graph showing test data",
        )

    def test_missing_fields(self):
        assert parse_image_description('{"caption": "Figure 1: Test Graph"}') == (
            "Figure 1: Test Graph",
            [],
            "",
        )

    def test_empty_json(self):
        assert parse_image_description("{}") == ("", [], "")

    def test_invalid_json(self):
        assert parse_image_description("{invalid json}") == ("", [], "")

    def test_empty_input(self):
        assert parse_image_description("") == ("", [], "")

    def test_surrounding_text(self):
        text = """
        Some text before
        {
            "caption": "Figure 1",
            "text_snippets": ["text1"],
            "description": "desc1"
        }
        Some text after
        """
        assert parse_image_description(text) == ("Figure 1", ["text1"], "desc1")


class TestJsonList:
    FIRST = 'Here: [{"name": "John", "age": 30}, {"name": "Alice", "age": 25}]'

    def test_valid(self):
        result = parse_json_list(self.FIRST)
        assert len(result) == 2 and result[0]["name"] == "John"

    def test_fields_projection(self):
        result = parse_json_list(self.FIRST, ["name", "age"])
        assert set(result[0].keys()) == {"name", "age"}
        assert result[1] == {"name": "Alice", "age": 25}

    def test_missing_field_projected_none(self):
        result = parse_json_list('[{"a": 1}]', ["a", "b"])
        assert result == [{"a": 1, "b": None}]

    def test_invalid(self):
        assert parse_json_list("[not json") == []

    def test_no_list(self):
        assert parse_json_list("nothing here") == []


class TestClassify:
    def test_direct(self):
        text = """
        {
            "classification": "direct",
            "analysis": "This is just analysis without answer",
            "response": "This is a direct answer to the query"
        }
        """
        assert parse_classify_response(text) == (
            "direct",
            "This is a direct answer to the query",
        )

    def test_retrieval(self):
        text = """
        ["keyword1", "keyword2", "keyword3"]
        {
            "classification": "retrieval",
            "analysis": "The query requires external knowledge retrieval.",
            "keywords": ["keyword1", "keyword2", "keyword3"]
        }
        """
        assert parse_classify_response(text) == (
            "retrieval",
            ["keyword1", "keyword2", "keyword3"],
        )

    def test_invalid(self):
        assert parse_classify_response("Invalid response format") == ("retrieval", [])

    def test_empty(self):
        assert parse_classify_response("") == ("retrieval", [])

    def test_direct_missing_response_falls_back(self):
        assert parse_classify_response('{"classification": "direct"}') == (
            "retrieval",
            [],
        )


class TestScanJsonObjects:
    def test_field_projection_keeps_only_requested(self):
        out = scan_json_objects('{"a": 1, "b": 2, "c": 3}', ["a", "b"])
        assert out == [{"a": 1, "b": 2}]

    def test_null_field_drops(self):
        assert scan_json_objects('{"a": 1, "b": null}', ["a", "b"]) == []
