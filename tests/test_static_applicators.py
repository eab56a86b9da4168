"""Statically-resolved object/array applicators on the typed Column planner
(SURVEY §2.4: fixed StructType => patternProperties / propertyNames /
additionalProperties / dependentSchemas / unevaluatedProperties reduce to
plan-time field analysis). Every verdict must match the scalar core."""

import pytest

from jsonschema_spark.compiler import Compiler
from jsonschema_spark.plans.columns import (
    PlanCompileError,
    SparkPlanCompiler,
    validate_dataframe,
)

CASES = [
    {"patternProperties": {"^x_": {"type": "string", "minLength": 3}}},
    {"propertyNames": {"pattern": "^[a-z_]+$"}},
    {"propertyNames": {"maxLength": 4}},
    {"properties": {"count": {}}, "additionalProperties": {"type": "string", "maxLength": 4}},
    {"properties": {"count": {}}, "additionalProperties": False},
    {"dependentSchemas": {"count": {"required": ["other"]}}},
    {"properties": {"x_code": {}}, "unevaluatedProperties": False},
    {
        "properties": {"x_code": {}},
        "additionalProperties": {"type": "integer"},
        "unevaluatedProperties": False,
    },
    {
        "allOf": [{"properties": {"count": {}}}],
        "properties": {"x_code": {}},
        "unevaluatedProperties": False,
    },
    {
        "anyOf": [{"properties": {"other": {"type": "string"}}, "required": ["other"]}],
        "properties": {"x_code": {}, "count": {}},
        "unevaluatedProperties": False,
    },
    {
        "if": {"required": ["count"]},
        "then": {"properties": {"other": {}}},
        "properties": {"x_code": {}, "count": {}},
        "unevaluatedProperties": False,
    },
    # claims through dependentSchemas, a nested anyOf, and an allOf prefixItems
    {
        "dependentSchemas": {"count": {"properties": {"other": {}}}},
        "properties": {"x_code": {}, "count": {}, "tags": {}},
        "unevaluatedProperties": False,
    },
    {
        "anyOf": [{"anyOf": [{"properties": {"x_code": {}, "count": {}, "other": {}, "tags": {}}}]}],
        "unevaluatedProperties": False,
    },
    {"properties": {"tags": {"allOf": [{"prefixItems": [{}]}], "unevaluatedItems": False}}},
    # claims through a $dynamicRef inside the $ref target
    {
        "$ref": "#/$defs/x",
        "unevaluatedProperties": False,
        "$defs": {
            "x": {"$dynamicRef": "#/$defs/y"},
            "y": {"properties": {"x_code": {}, "count": {}, "tags": {}}},
        },
    },
    # two matching branches: one_of_multiple_matches lists both indexes
    {"oneOf": [{"required": ["x_code"]}, {"required": ["count"]}]},
]


@pytest.fixture(scope="module")
def obj_df(spark):
    return spark.createDataFrame(
        [
            ("a1", 5, "x", [1]),
            (None, None, None, None),
            ("bad name", 2, None, [1, 2]),
            ("a2", 99, "keep", [7]),
        ],
        "x_code string, count int, other string, tags array<int>",
    )


@pytest.mark.parametrize("schema", CASES, ids=lambda s: "+".join(sorted(s)))
def test_static_applicator_matches_scalar(spark, obj_df, schema):
    got = [r["valid"] for r in validate_dataframe(obj_df, schema).collect()]
    ev = Compiler().compile(schema)
    for row, got_valid in zip(obj_df.collect(), got):
        inst = {k: v for k, v in row.asDict().items() if v is not None}
        assert ev.validate(inst).valid == got_valid, (schema, inst)


@pytest.mark.parametrize("schema", CASES, ids=lambda s: "+".join(sorted(s)))
def test_static_applicator_violation_rows_match_scalar(spark, obj_df, schema):
    """Violation ROWS, not just flags: (path, keyword, code) multisets must
    agree typed-planner vs scalar core (guards e.g. double-emission of
    dependentSchemas sub-violations — reference dependent_schemas.go:17-75),
    and so must the rendered (path, code, message) rows
    (reporting.localized_output vs errors.render_message)."""
    import pyspark.sql.functions as SF

    from jsonschema_spark.errors import render_message
    from jsonschema_spark.reporting import localized_output

    out = validate_dataframe(obj_df, schema)
    got_rows = (
        out.select(SF.col("x_code"), SF.explode_outer("violations").alias("v"))
        .select("x_code", "v.instance_path", "v.keyword", "v.code")
        .collect()
    )
    by_doc: dict = {}
    for r in got_rows:
        if r["instance_path"] is not None:
            by_doc.setdefault(r["x_code"], []).append(
                (r["instance_path"], r["keyword"], r["code"])
            )
    messages: dict = {}
    for r in localized_output(out, ["x_code"]).collect():
        messages.setdefault(r["x_code"], []).append((r["instance_path"], r["code"], r["message"]))
    ev = Compiler().compile(schema)
    for row in obj_df.collect():
        inst = {k: v for k, v in row.asDict().items() if v is not None}
        violations = ev.validate(inst).violations
        want = sorted((v.instance_path, v.keyword, v.code) for v in violations)
        got = sorted(by_doc.get(row["x_code"], []))
        assert got == want, (schema, inst, got, want)
        want = sorted((v.instance_path, v.code, render_message(v.code, v.params)) for v in violations)
        got = sorted(messages.get(row["x_code"], []))
        assert got == want, (schema, inst, got, want)


def test_unevaluated_items_static(spark):
    df = spark.createDataFrame([([1, 2, 3],), ([1],), ([],)], "arr array<int>")
    schema = {"properties": {"arr": {"prefixItems": [{}], "unevaluatedItems": False}}}
    got = [(tuple(r["arr"]), r["valid"]) for r in validate_dataframe(df, schema).collect()]
    assert got == [((1, 2, 3), False), ((1,), True), ((), True)]


def test_dynamic_ref_unresolvable_refused():
    from pyspark.sql import types as T

    plan = SparkPlanCompiler({"$dynamicRef": "#nosuchanchor"})
    with pytest.raises(PlanCompileError):
        plan.violations_column(T.StructType([T.StructField("a", T.IntegerType())]))


def test_dynamic_ref_bounded_unroll_matches_scalar(spark):
    """Recursive $dynamicRef unrolls to the struct's static depth and agrees
    with the scalar core (reference: validate.go:684-765)."""
    schema = {
        "$id": "https://example.test/t",
        "$dynamicAnchor": "node",
        "type": "object",
        "properties": {
            "value": {"type": "integer", "maximum": 10},
            "child": {"$dynamicRef": "#node"},
        },
    }
    df = spark.createDataFrame(
        [(1, 5, (7,)), (2, 5, (99,)), (3, 99, (1,)), (4, 3, None)],
        "id int, value int, child struct<value:int>",
    )
    got = {r["id"]: r["valid"] for r in validate_dataframe(df, schema).collect()}
    ev = Compiler().compile(schema)
    for row in df.collect():
        inst = {"value": row["value"]}
        if row["child"] is not None:
            inst["child"] = {"value": row["child"]["value"]}
        assert got[row["id"]] == ev.validate(inst).valid, inst


def test_dynamic_ref_unbounded_recursion_refused(spark):
    """Self-recursion that never grounds out in the static type must refuse,
    not loop: here the $dynamicRef re-applies to the SAME value."""
    from pyspark.sql import types as T

    schema = {
        "$id": "https://example.test/u",
        "$dynamicAnchor": "n",
        "allOf": [{"$dynamicRef": "#n"}],
    }
    plan = SparkPlanCompiler(schema)
    with pytest.raises(PlanCompileError):
        plan.violations_column(T.StructType([T.StructField("a", T.IntegerType())]))
