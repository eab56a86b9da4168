"""Variant-planner assertion keywords against the scalar core: the codes of
the rows, where a keyword has more than one."""

from __future__ import annotations

import json

from jsonschema_spark.compiler import Compiler
from jsonschema_spark.functions.udf import validate_json_column


def test_const_null_code_matches_scalar(spark):
    """`const: null` reports const_mismatch_null, as the scalar core does."""
    schema = {"prefixItems": [{"const": None}, {"const": 1}]}
    df = spark.createDataFrame([("[0, 2]",), ("[null, 1]",)], "doc string")
    out = validate_json_column(df, "doc", schema)
    assert "EvalPython" not in out._jdf.queryExecution().executedPlan().toString()
    ev = Compiler().compile(schema)
    for r in out.collect():
        want = sorted((v.instance_path, v.code) for v in ev.validate(json.loads(r["doc"])).violations)
        assert sorted((v["instance_path"], v["code"]) for v in r["violations"]) == want, r["doc"]
