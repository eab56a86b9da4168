"""Statically-resolved object/array applicators on the typed Column planner
(SURVEY §2.4: fixed StructType => patternProperties / propertyNames /
additionalProperties / dependentSchemas / unevaluatedProperties reduce to
plan-time field analysis). Every verdict must match the scalar core."""

import json

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
    # enum / const members of a JSON type the column cannot hold never match
    # (a bool is not a number); explicit ids keep the ids above unchanged
    pytest.param({"properties": {"count": {"const": "5"}}}, id="count-const-string"),
    pytest.param({"properties": {"x_code": {"enum": ["a1", 7]}}}, id="x_code-enum-mixed"),
    pytest.param({"properties": {"count": {"enum": [True, 5]}}}, id="count-enum-bool"),
    pytest.param({"properties": {"x_code": {"pattern": "^a[0-9]$"}}}, id="x_code-pattern"),
    pytest.param({"properties": {"x_code": {"maxLength": 2}}}, id="x_code-maxLength"),
    pytest.param({"properties": {"x_code": {"const": "a1"}}}, id="x_code-const"),
]


# map / array / double columns: the map keywords lower through the shared
# keyed-object core, uniqueItems prints its duplicate groups, and a double's
# integral value prints without ".0"
COLLECTION_CASES = [
    {"properties": {"m": {"properties": {"a": {"maximum": 3}}}}},
    {"properties": {"m": {"properties": {"a": {}}, "additionalProperties": False}}},
    {"properties": {"m": {"additionalProperties": {"minimum": 0}}}},
    {"properties": {"m": {"patternProperties": {"^x_": {"maximum": 10}}}}},
    {"properties": {"m": {"propertyNames": {"maxLength": 3}}}},
    {"properties": {"m": {"dependentRequired": {"a": ["b"]}}}},
    {"properties": {"m": {"properties": {"a": {}}, "unevaluatedProperties": False}}},
    {"properties": {"m": {"dependentSchemas": {"a": {"required": ["b"]}}}}},
    {"properties": {"tags": {"uniqueItems": True}}},
    {"properties": {"score": {"maximum": 2}}},
    {"properties": {"score": {"enum": [1, 2]}}},
    {"properties": {"score": {"multipleOf": 0.5}}},
    {"properties": {"score": {"type": "integer"}}},
    {"properties": {"score": {"exclusiveMinimum": 2}}},
    {"properties": {"score": {"const": 2}}},
    # propertyNames key predicates come from the shared value assertions
    {"properties": {"m": {"propertyNames": {"enum": ["a", "b", 1]}}}},
    {"properties": {"m": {"propertyNames": {"type": "integer"}}}},
    {"properties": {"m": {"propertyNames": {"const": "a"}}}},
    {"properties": {"m": {"propertyNames": {"pattern": "^[a-z]", "minLength": 2}}}},
]


def _case_id(schema) -> str:
    return json.dumps(schema, separators=(",", ":"))


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


@pytest.fixture(scope="module")
def coll_df(spark):
    return spark.createDataFrame(
        [
            ("r1", {"a": 5, "b": 1}, 3.0, [1, 2, 1]),
            ("r2", {"a": 1, "x_long": 20, "zz": -1}, 1.5, [3, 3, 4, 4]),
            ("r3", None, None, None),
            ("r4", {}, 2.0, []),
            ("r5", {"b": 2, "longkey": 7}, -4.0, [7]),
        ],
        "id string, m map<string,int>, score double, tags array<int>",
    )


def _instance(row) -> dict:
    return {k: v for k, v in row.asDict().items() if v is not None}


def _assert_verdicts_match(df, schema) -> None:
    got = [r["valid"] for r in validate_dataframe(df, schema).collect()]
    ev = Compiler().compile(schema)
    for row, got_valid in zip(df.collect(), got):
        inst = _instance(row)
        assert ev.validate(inst).valid == got_valid, (schema, inst)


def _assert_rows_match(df, key: str, schema) -> None:
    """Violation ROWS, not just flags: (path, keyword, code) multisets and
    the rendered (path, code, message) rows (reporting.localized_output vs
    errors.render_message) must agree with the scalar core per ``key``."""
    import pyspark.sql.functions as SF

    from jsonschema_spark.errors import render_message
    from jsonschema_spark.reporting import localized_output

    out = validate_dataframe(df, schema)
    got_rows = (
        out.select(SF.col(key), SF.explode_outer("violations").alias("v"))
        .select(key, "v.instance_path", "v.keyword", "v.code")
        .collect()
    )
    by_doc: dict = {}
    for r in got_rows:
        if r["instance_path"] is not None:
            by_doc.setdefault(r[key], []).append(
                (r["instance_path"], r["keyword"], r["code"])
            )
    messages: dict = {}
    for r in localized_output(out, [key]).collect():
        messages.setdefault(r[key], []).append((r["instance_path"], r["code"], r["message"]))
    ev = Compiler().compile(schema)
    for row in df.collect():
        inst = _instance(row)
        violations = ev.validate(inst).violations
        want = sorted((v.instance_path, v.keyword, v.code) for v in violations)
        got = sorted(by_doc.get(row[key], []))
        assert got == want, (schema, inst, got, want)
        want = sorted((v.instance_path, v.code, render_message(v.code, v.params)) for v in violations)
        got = sorted(messages.get(row[key], []))
        assert got == want, (schema, inst, got, want)


@pytest.mark.parametrize("schema", CASES, ids=lambda s: "+".join(sorted(s)))
def test_static_applicator_matches_scalar(spark, obj_df, schema):
    _assert_verdicts_match(obj_df, schema)


@pytest.mark.parametrize("schema", CASES, ids=lambda s: "+".join(sorted(s)))
def test_static_applicator_violation_rows_match_scalar(spark, obj_df, schema):
    """Guards e.g. double-emission of dependentSchemas sub-violations
    (reference dependent_schemas.go:17-75)."""
    _assert_rows_match(obj_df, "x_code", schema)


@pytest.mark.parametrize("schema", COLLECTION_CASES, ids=_case_id)
def test_collection_keywords_match_scalar(spark, coll_df, schema):
    _assert_verdicts_match(coll_df, schema)


@pytest.mark.parametrize("schema", COLLECTION_CASES, ids=_case_id)
def test_collection_violation_rows_match_scalar(spark, coll_df, schema):
    _assert_rows_match(coll_df, "id", schema)


def test_map_property_names_beyond_key_predicates_refused():
    """A propertyNames keyword no key predicate expresses must refuse, never
    pass silently."""
    from pyspark.sql import types as T

    plan = SparkPlanCompiler({"properties": {"m": {"propertyNames": {"not": {"const": "a"}}}}})
    with pytest.raises(PlanCompileError):
        plan.violations_column(T.StructType([T.StructField("m", T.MapType(T.StringType(), T.IntegerType()))]))


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
