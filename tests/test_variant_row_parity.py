"""Variant-planner violation-ROW parity with the scalar core: the
(path, keyword, code) multiset and every row's rendered message must agree,
not just verdicts — the same contract the typed planner satisfies
(applicator summary rows, singular/plural codes, false-schema leafs, $ref
summaries, params as the scalar core prints them)."""

from __future__ import annotations

import json
import re

import pytest
from pyspark.sql import functions as F

from jsonschema_spark.compiler import Compiler
from jsonschema_spark.errors import render_message
from jsonschema_spark.functions.udf import validate_json_column
from jsonschema_spark.reporting import localized_output

SCHEMAS = [
    {"properties": {"a": {"type": "integer", "minimum": 5}, "b": {"minLength": 2}}},
    {"required": ["a", "b", "c"]},
    {"dependentRequired": {"a": ["b", "c"]}},
    {"patternProperties": {"^x_": {"minLength": 3}}, "minProperties": 1},
    {"properties": {"a": {}}, "additionalProperties": {"type": "integer"}},
    {"properties": {"a": {}}, "additionalProperties": False},
    {"propertyNames": {"maxLength": 3}},
    {"properties": {"a": {}}, "unevaluatedProperties": False},
    {"dependentSchemas": {"a": {"required": ["b"]}, "c": {"required": ["d"]}}},
    {"allOf": [{"properties": {"a": {"minimum": 10}}}, {"required": ["b"]}]},
    {"oneOf": [{"type": "integer"}, {"minimum": 3}]},
    {"anyOf": [{"type": "string"}, {"type": "boolean"}]},
    {"if": {"required": ["a"]}, "then": {"required": ["b"]}, "else": {"required": ["c"]}},
    {"items": {"type": "integer", "maximum": 5}},
    {"prefixItems": [{"type": "integer"}, {"minLength": 2}], "items": {"maximum": 3}},
    {"not": {"type": "object"}},
    {"prefixItems": [{"type": "integer"}], "unevaluatedItems": False},
    {"prefixItems": [{}], "contains": {"type": "string"}, "unevaluatedItems": {"maximum": 5}},
    {"$defs": {"pos": {"minimum": 0}}, "properties": {"a": {"$ref": "#/$defs/pos"}}},
    # --- nested-conditional claims (annotation threading, r3): these must
    # stay on the variant path (EvalPython assert) and agree row-for-row ---
    {
        "anyOf": [{"anyOf": [{"properties": {"a": {"type": "integer"}}, "required": ["a"]}]}],
        "unevaluatedProperties": False,
    },
    {
        "anyOf": [{"if": {"required": ["a"]}, "then": {"properties": {"b": {"type": "string"}}}}],
        "unevaluatedProperties": False,
    },
    {
        "dependentSchemas": {"a": {"anyOf": [{"properties": {"b": {}}, "required": ["b"]}]}},
        "properties": {"a": {}},
        "unevaluatedProperties": False,
    },
    {
        "oneOf": [
            {"properties": {"a": {"type": "integer"}}, "required": ["a"]},
            {"properties": {"b": {}}, "required": ["b"]},
        ],
        "unevaluatedProperties": False,
    },
    {"allOf": [{"prefixItems": [{"type": "integer"}]}], "unevaluatedItems": False},
    {
        "if": {"prefixItems": [{"const": 1}], "minItems": 1},
        "then": {"prefixItems": [{}, {}]},
        "unevaluatedItems": {"type": "string"},
    },
    {
        "anyOf": [{"contains": {"type": "string"}, "minContains": 0}],
        "unevaluatedItems": {"type": "integer", "maximum": 5},
    },
    # --- claims through $ref / $dynamicRef targets under an allOf (the
    # target's tree claims in place; a SIBLING $ref routes to the UDF)
    {
        "$defs": {"base": {"properties": {"a": {}}}},
        "allOf": [{"$ref": "#/$defs/base"}],
        "unevaluatedProperties": False,
    },
    {
        "$defs": {"pair": {"prefixItems": [{}, {}]}},
        "allOf": [{"$ref": "#/$defs/pair"}],
        "unevaluatedItems": {"type": "integer"},
    },
    {
        "allOf": [{"$ref": "#/$defs/x"}],
        "unevaluatedProperties": False,
        "$defs": {"x": {"$dynamicRef": "#/$defs/y"}, "y": {"properties": {"a": {}}}},
    },
    {
        "$id": "https://example.com/root",
        "allOf": [{"$ref": "inner"}],
        "unevaluatedProperties": False,
        "$defs": {
            "override": {"$dynamicAnchor": "node", "properties": {"a": {}}},
            "inner": {
                "$id": "inner",
                "$dynamicRef": "#node",
                "$defs": {"default": {"$dynamicAnchor": "node", "properties": {"b": {}}}},
            },
        },
    },
    # --- params the messages print: bounds, enum, divisor, duplicates ---
    {"minimum": 5, "exclusiveMaximum": 10},
    {"maximum": 2.5, "exclusiveMinimum": 0},
    {"enum": ["a", 1, None, True]},
    {"multipleOf": 2},
    {"uniqueItems": True},
    # --- value assertions and propertyNames key predicates (one lowering) ---
    {"const": "plain string"},
    {"const": 7},
    {"const": {"a": 1}},
    {"maxLength": 5, "pattern": "^p"},
    {"type": ["integer", "null"]},
    {"multipleOf": 0.5},
    {"multipleOf": 0},
    {"propertyNames": {"enum": ["a", "b", 1]}},
    {"propertyNames": {"type": "integer"}},
    {"propertyNames": {"const": "a"}},
    {"propertyNames": {"pattern": "^[a-z]", "minLength": 2}},
]

INSTANCES = [
    {"a": 1, "b": "x"},
    {"a": 42, "b": "hello", "c": 7},
    {"x_ab": "hi", "x_long": "alpha"},
    {"a": 1, "extra": "nope", "longkey": 2},
    {},
    [1, 2, 99, "zz"],
    [1, "ok", 2, 9],
    "plain string",
    7,
    {"c": 1},
    {"a": 1},
    3.0,
    12,
    [1, "zz", 1, "zz", 4],
]


def _scalar_rows(schema, inst):
    res = Compiler().compile(schema).validate(inst)
    return sorted((v.instance_path, v.keyword, v.code) for v in res.violations)


def _scalar_messages(schema, inst):
    res = Compiler().compile(schema).validate(inst)
    return sorted((v.instance_path, v.code, render_message(v.code, v.params)) for v in res.violations)


def test_variant_rows_match_scalar(spark):
    docs = [(i, json.dumps(inst)) for i, inst in enumerate(INSTANCES)]
    df = spark.createDataFrame(docs, "i int, doc string")
    mismatches = []
    for si, schema in enumerate(SCHEMAS):
        out = validate_json_column(df, "doc", schema)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan, f"schema {si} fell back to the UDF path"
        rows = (
            out.select("i", F.explode_outer("violations").alias("v"))
            .select("i", "v.instance_path", "v.keyword", "v.code")
            .collect()
        )
        got: dict[int, list] = {i: [] for i, _ in docs}
        for r in rows:
            if r["instance_path"] is not None:
                got[r["i"]].append((r["instance_path"], r["keyword"], r["code"]))
        messages: dict[int, list] = {i: [] for i, _ in docs}
        for r in localized_output(out, ["i"]).collect():
            messages[r["i"]].append((r["instance_path"], r["code"], r["message"]))
            assert not re.search(r"\{\w+\}", r["message"]), (si, r["message"])
        for i, inst in enumerate(INSTANCES):
            want = _scalar_rows(schema, inst)
            if sorted(got[i]) != want:
                mismatches.append((si, i, sorted(got[i]), want))
            want = _scalar_messages(schema, inst)
            if sorted(messages[i]) != want:
                mismatches.append((si, i, sorted(messages[i]), want))
    assert not mismatches, "\n".join(str(m) for m in mismatches[:10])


def test_unevaluated_beside_sibling_ref_routes_to_udf(spark):
    """unevaluated* beside a sibling $ref / $dynamicRef runs on the UDF and
    keeps the claims of the (dynamically resolved) target."""
    schema = {
        "$ref": "#/$defs/x",
        "unevaluatedProperties": False,
        "$defs": {"x": {"$dynamicRef": "#/$defs/y"}, "y": {"properties": {"a": {}}}},
    }
    insts = [{"a": 1}, {"a": 1, "b": 2}]
    df = spark.createDataFrame([(i, json.dumps(x)) for i, x in enumerate(insts)], "i int, doc string")
    out = validate_json_column(df, "doc", schema)
    assert "EvalPython" in out._jdf.queryExecution().executedPlan().toString()
    got = {r["i"]: r["valid"] for r in out.select("i", "valid").collect()}
    ev = Compiler().compile(schema)
    assert got == {i: ev.validate(x).valid for i, x in enumerate(insts)} == {0: True, 1: False}
