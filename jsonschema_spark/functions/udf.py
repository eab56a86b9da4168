"""Arrow-batched validation UDFs — the *dynamic residue* path.

When documents arrive as raw JSON strings (schema not statically typed), the
typed Column plan can't apply; we run the scalar evaluator core inside
``pandas_udf`` batches (Arrow transfer, one Python roundtrip per batch — never
per-row Python UDF calls; reference analogue: ValidateJSON validate.go:27-39).

The compiled schema is built once per executor (lazy module-level cache keyed
by the schema JSON), not per batch.
"""

from __future__ import annotations

import json
import logging
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jsonschema_spark.plans.core import VIOLATION_SCHEMA_DDL

_LOG = logging.getLogger(__name__)

_COMPILED_CACHE: dict[str, Any] = {}


def _get_compiled(schema_json: str, assert_format: bool):
    key = f"{assert_format}:{schema_json}"
    if key not in _COMPILED_CACHE:
        from jsonschema_spark.compiler import Compiler

        _COMPILED_CACHE[key] = (
            Compiler().set_assert_format(assert_format).compile(schema_json, validate_regex=False)
        )
    return _COMPILED_CACHE[key]


def validate_json_column(
    df: DataFrame,
    json_col: str,
    schema: Any,
    *,
    assert_format: bool = False,
    violations_col: str = "violations",
    valid_col: str = "valid",
    max_unroll: int = 5,
) -> DataFrame:
    """Validate a raw-JSON string column; adds valid + violations columns.

    Fast path: when the schema falls in the variant-supported subset, the
    whole validation compiles to JVM variant expressions (try_parse_json +
    schema_of_variant + try_variant_get) — zero Python per row (north rule).
    Residue (keywords outside the variant subset such as the content
    vocabulary, exotic property names, propertyNames subschemas beyond
    string predicates, unevaluated* beside a sibling $ref / $dynamicRef,
    too-deep nesting)
    runs the Arrow-batched scalar-evaluator UDF; `valid` derives JVM-side
    (size == 0) either way.
    """
    if not isinstance(schema, str):
        from jsonschema_spark.plans.variant import (
            VariantCompileError,
            validate_variant_column,
        )

        try:
            # single compile: validate_variant_column builds the whole
            # expression tree eagerly, so supportability probing happens as a
            # side effect — a separate probe build would DOUBLE the driver's
            # py4j expression-construction cost (measured ~10s on a 5-level
            # recursive unroll)
            out = validate_variant_column(
                df, json_col, schema,
                assert_format=assert_format, max_unroll=max_unroll,
            )
        except VariantCompileError as exc:
            # expected residue (unsupported keyword / unbounded nesting):
            # fall through to the Arrow-batched UDF path, with a signal —
            # any OTHER exception is a real compiler bug and must raise,
            # not silently downgrade the fast path ~10x.
            _LOG.info("variant fast path unavailable (%s); using Arrow UDF path", exc)
        else:
            renames = {"violations": violations_col, "valid": valid_col}
            for src, dst in renames.items():
                if src != dst:
                    out = out.withColumnRenamed(src, dst)
            return out

    schema_json = json.dumps(schema) if not isinstance(schema, str) else schema

    @F.pandas_udf(VIOLATION_SCHEMA_DDL)
    def _violations(batch: Iterator[pd.Series]) -> Iterator[pd.Series]:
        compiled = _get_compiled(schema_json, assert_format)

        def run(s: str | None):
            if s is None:
                return []
            res = compiled.validate_json(s)
            return [
                {
                    "instance_path": v.instance_path,
                    "keyword": v.keyword,
                    "code": v.code,
                    "params": dict(v.params),
                }
                for v in res.violations
            ]

        for series in batch:
            yield series.map(run)

    out = df.withColumn(violations_col, _violations(F.col(json_col)))
    return out.withColumn(valid_col, F.size(F.col(violations_col)) == 0)


def validate_pairs_udf(*, assert_format: bool = False) -> Column:
    """(schema_json, data_json) → valid flag, Arrow-batched.

    For suite-style corpora where the schema varies per row; compiled schemas
    are cached per distinct schema string within the executor."""

    @F.pandas_udf("boolean")
    def _pairs(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        for schema_s, data_s in it:
            out = []
            for schema_json, data_json in zip(schema_s, data_s):
                if schema_json is None or data_json is None:
                    out.append(None)
                    continue
                compiled = _get_compiled(schema_json, assert_format)
                out.append(compiled.validate_json(data_json).valid)
            yield pd.Series(out, dtype="object")

    return _pairs
