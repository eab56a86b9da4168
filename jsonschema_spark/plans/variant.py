"""Dynamic-JSON constraint plan over Spark VariantType — the JVM fast path
for documents whose schema is NOT statically typed.

Where plans.columns compiles against a fixed StructType, this compiler lowers
the same JSON Schema semantics onto `try_parse_json` variants: typing via
`schema_of_variant` (BIGINT / DECIMAL(p,0) => integer, VOID => JSON null,
SQL NULL => absent), traversal via `try_variant_get`, arrays via
`cast to array<variant>` + higher-order functions, object keys via
`cast to map<string,variant>`. Zero Python per row. The applicator layer
(logical applicators, $ref / $dynamicRef, unevaluated* claims, summary rows),
the value assertions and the array and object keywords are the shared
planner core in plans.core; this module holds the variant value model, which
answers the core's type, text, number, equality and multiple-of questions at
runtime from the staged `schema_of_variant` string.

functions.udf falls back to the Arrow-batched scalar-evaluator UDF only for
the residue: keywords outside `_SUPPORTED` (content vocabulary, legacy
`dependencies`, ...), property names not expressible as variant paths,
propertyNames subschemas beyond plain string predicates, unevaluated* beside
a sibling `$ref` / `$dynamicRef`, and schemas nested deeper than `MAX_DEPTH`.

Reference analogue: the same keyword semantics as validate.go evaluate, with
the dynamic `getDataType` dispatch (utils.go:37-60) done by
`schema_of_variant` instead of Go type switches.

Documented divergences (same contract as SURVEY §4.2.6):
- numeric comparisons run in double after variant typing gates them to
  numbers; integers beyond 2^53 and >15-significant-digit decimals may
  diverge from exact-rational semantics;
- uniqueItems compares canonical `to_json` serializations (variant
  normalizes number forms first, e.g. 2.0 -> 2);
- non-integral numbers in params print in Spark's double form, which uses
  exponent notation for magnitudes below 1e-3 or from 1e7.
"""

from __future__ import annotations

import json
from fractions import Fraction
from functools import cached_property, reduce
from operator import attrgetter, or_
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from jsonschema_spark.plans.core import (
    VALUE_KEYWORDS,
    Node,
    PlanCompiler,
    Val,
    cond_violation,
    double_multiple,
    empty_violations,
    num_text,
)

__all__ = ["VariantPlanCompiler", "VariantCompileError", "validate_variant_column"]

# keywords the variant path supports; anything else => fall back to UDF path
_SUPPORTED = {
    *VALUE_KEYWORDS, "required", "properties", "items", "prefixItems", "minItems",
    "maxItems", "uniqueItems", "contains", "minContains", "maxContains",
    "allOf", "anyOf", "oneOf", "not", "if", "then", "else",
    "dependentRequired", "dependentSchemas", "$ref", "$defs", "definitions",
    "$dynamicRef", "$dynamicAnchor",
    "$id", "$schema", "$anchor", "title", "description", "default",
    "examples", "deprecated", "readOnly", "writeOnly", "$comment",
    # dynamic-object residue: key enumeration via cast(variant AS
    # map<string,variant>) keeps these JVM-side (no UDF fallback)
    "patternProperties", "additionalProperties", "propertyNames",
    "minProperties", "maxProperties", "unevaluatedProperties",
    "unevaluatedItems",
}


class VariantCompileError(ValueError):
    pass


class _Variant(Val):
    """A variant value whose ``dtype`` is its staged `schema_of_variant`
    string. Each derived form is built on first use, once per subschema
    visit, and only when a keyword asks for it."""

    @cached_property
    def is_number(self) -> Column:
        t = self.dtype
        return (t == "BIGINT") | (t == "DOUBLE") | (t == "FLOAT") | t.startswith("DECIMAL")

    @cached_property
    def is_string(self) -> Column:
        return self.dtype == "STRING"

    @cached_property
    def number(self) -> Column:
        return F.try_variant_get(self.col, "$", "double")

    @cached_property
    def text(self) -> Column:
        return F.when(self.is_string, F.try_variant_get(self.col, "$", "string"))

    @cached_property
    def json_type(self) -> Column:
        """JSON type name (reference: utils.go getDataType)."""
        t, d = self.dtype, self.number
        return (
            F.when(t == "VOID", "null")
            .when(self.is_string, "string")
            .when(t == "BOOLEAN", "boolean")
            .when(t.startswith("ARRAY"), "array")
            .when(t.startswith("OBJECT") | (t == "STRUCT"), "object")
            .when(self.is_number & (d == F.floor(d)), "integer")
            .when(self.is_number, "number")
            .otherwise("unknown")
        )

    @cached_property
    def shown(self) -> Column:
        jt = self.json_type
        return (
            F.when(jt == "string", self.text)
            .when(jt.isin("integer", "number"), num_text(self.number, F.try_variant_get(self.col, "$", "decimal(38,0)")))
            .when(jt == "boolean", F.try_variant_get(self.col, "$", "string"))
            .otherwise(jt)
        )


class VariantPlanCompiler(PlanCompiler):
    """Value model: a variant Column typed at runtime by `schema_of_variant`.

    Recursive $ref / $dynamicRef unroll ``max_unroll`` times per target:
    dynamic JSON has no static type to ground out on (unlike plans.columns),
    so a value still present at the horizon FAILS CLOSED with the
    ref-mismatch violation, never a silent pass (documented engine bound,
    like the scalar depth guard). Instances no deeper than ``max_unroll``
    validate exactly like the scalar core."""

    error = VariantCompileError
    MAX_DEPTH = 16  # depth counts every child step and $ref hop
    depth_error = "schema nesting exceeds bounded unroll depth"

    def __init__(
        self, schema: Any, *, assert_format: bool = True, max_unroll: int = 5
    ) -> None:
        super().__init__(schema, assert_format=assert_format)
        self.max_unroll = max_unroll
        self._ref_counts: dict[int, int] = {}
        self._check_supported(self.schema)

    def _check_supported(self, schema: Any, depth: int = 0) -> None:
        if depth > 64 or not isinstance(schema, dict):
            return
        for kw, sub in schema.items():
            if kw not in _SUPPORTED:
                raise VariantCompileError(f"keyword {kw!r} needs the UDF path")
            if kw in ("properties", "required", "dependentRequired", "dependentSchemas"):
                names = sub.keys() if isinstance(sub, dict) else (sub if isinstance(sub, list) else [])
                for name in names:
                    if not isinstance(name, str) or "'" in name or "\\" in name or any(
                        ord(c) < 0x20 for c in name
                    ):
                        raise VariantCompileError(
                            f"property name {name!r} not expressible as a variant path"
                        )
            if kw in ("properties", "$defs", "definitions", "patternProperties", "dependentSchemas"):
                for s in sub.values() if isinstance(sub, dict) else []:
                    self._check_supported(s, depth + 1)
            elif kw in (
                "items", "not", "if", "then", "else", "contains",
                "additionalProperties", "unevaluatedProperties", "unevaluatedItems",
            ):
                self._check_supported(sub, depth + 1)
            elif kw in ("allOf", "anyOf", "oneOf", "prefixItems") and isinstance(sub, list):
                for s in sub:
                    self._check_supported(s, depth + 1)
            if kw in ("unevaluatedProperties", "unevaluatedItems") and ("$ref" in schema or "$dynamicRef" in schema):
                # the target compiles twice, for its own rows and as the
                # claim gate, and under an items lambda the gate re-runs per
                # key: 8x slower than the UDF on 2,048 raw-JSON docs with
                # $ref'd span items (local[2], 4-core x86)
                raise VariantCompileError(f"{kw} beside a sibling $ref / $dynamicRef needs the UDF path")

    # ------------------------------------------------------------------ public

    def violations_column(
        self,
        variant_col: Column,
        root_path: Column | None = None,
        stages: list[tuple[str, Column]] | None = None,
    ) -> Column:
        """Violations of the variant column; ``stages`` as in
        :meth:`PlanCompiler._compile_root` (per-key transforms for the
        dynamic-object residue, typed values, claim gates)."""
        root = Val(variant_col, root_path if root_path is not None else F.lit(""))
        return self._compile_root(root, stages).violations

    def valid_column(self, variant_col: Column) -> Column:
        return self._compile_root(Val(variant_col, F.lit("")), None).valid

    # ------------------------------------------------------------- value model

    def _compile_ref(self, target: Any, val: Val, depth: int) -> Node:
        key = id(target)
        cnt = self._ref_counts.get(key, 0)
        if cnt >= self.max_unroll:
            # the horizon: valid only when absent; the core adds the
            # ref-mismatch row for a present value
            return Node(val.col.isNull(), empty_violations())
        self._ref_counts[key] = cnt + 1
        try:
            return self._compile(target, val, depth)
        finally:
            self._ref_counts[key] = cnt

    def _typed(self, val: Val) -> Val:
        # stage the variant value and its type string once per compile level:
        # schema_of_variant / try_variant_get otherwise re-run per keyword
        # reference (no CSE inside one projection — measured)
        v = self._maybe_stage(val.col, val)
        return _Variant(v, val.path, self._maybe_stage(F.schema_of_variant(v), val), val.in_lambda)

    def _node(self, present: Column, parts: list, valids: list) -> Node:
        # SQL NULL == absent (valid, no rows); VOID == JSON null
        node = super()._node(present, parts, valids)
        return Node(
            F.when(present, node.valid).otherwise(F.lit(True)),
            F.when(present, node.violations).otherwise(empty_violations()),
        )

    def _has(self, val: Val, name: str) -> Column:
        # a key path is NULL on every non-object, so no type test is needed
        return self._get(val, name).isNotNull()

    # collection hooks (plans.core): arrays via cast to array<variant>,
    # object keys via cast to map<string,variant>, members via variant paths

    STEP = 1

    def _array(self, val: Val, present: Column) -> tuple[Column, Column]:
        return F.try_variant_get(val.col, "$", "array<variant>"), present & val.dtype.startswith("ARRAY")

    def _keyed(self, val: Val, present: Column) -> Column:
        return present & val.dtype.startswith("OBJECT")

    def _map(self, val: Val) -> Column:
        # staged: the variant→map conversion happens once per row instead
        # of once per key reference
        return self._maybe_stage(val.col.try_cast("map<string,variant>"), val)

    def _get(self, val: Val, name: str) -> Column:
        return F.try_variant_get(val.col, f"$['{name}']", "variant")

    def _at(self, val: Val, arr: Column, i: int) -> Column:
        return F.try_variant_get(val.col, f"$[{i}]", "variant")

    def _member(self, val: Val, col: Column, path: Column, in_lambda: bool) -> Val:
        return Val(col, path, in_lambda=in_lambda)

    def _unique_key(self, arr: Column) -> Column:
        # canonical JSON text: variant normalizes number forms (2.0 -> 2)
        return F.transform(arr, lambda x: F.to_json(x))

    # value hooks (plans.core): answered at runtime from the staged type

    def _is(self, val: _Variant, family: str) -> Column:
        return val.is_string if family == "string" else val.is_number

    _text = staticmethod(attrgetter("text"))
    _shown = staticmethod(attrgetter("shown"))

    def _number(self, val: _Variant) -> Column:
        # a numeric string casts to a double too: NULL it
        return F.when(val.is_number, val.number)

    def _type_check(self, val: _Variant, declared: list) -> tuple[Column, Column]:
        names = [*declared, "integer"] if "number" in declared else declared
        return ~val.json_type.isin(*names), val.json_type

    def _equals(self, val: _Variant, members: list) -> Column | bool:
        def eq(item: Any) -> Column:
            t = val.dtype
            if item is None:
                return t == "VOID"
            if isinstance(item, bool):
                return (t == "BOOLEAN") & (F.try_variant_get(val.col, "$", "boolean") == F.lit(item))
            if isinstance(item, (int, float, Fraction)):
                return val.is_number & (val.number == F.lit(float(item)))
            if isinstance(item, str):
                return val.is_string & (val.text == F.lit(item))
            # composite member: canonical JSON comparison
            return F.to_json(val.col) == F.lit(json.dumps(item, separators=(",", ":"), sort_keys=True))

        return reduce(or_, map(eq, members)) if members else False

    def _multiple(self, val: _Variant, fdiv: Fraction) -> Column:
        return double_multiple(self._number(val), fdiv)


_PLAN_CACHE: dict = {}
_PLAN_CACHE_MAX = 32


def _compiled_variant_plan(df, schema: Any, assert_format: bool, max_unroll: int):
    """(violations Column, stages) for `F.col("__variant__")` — compile ONCE
    per (session, schema, flags), like the reference's Compiler.Compile.

    The expression tree is immutable and column-name-anchored, so it is
    reusable across DataFrames in the same Spark application; driver-side
    py4j construction dominates repeated-validation cost for deep schemas
    (measured ~2s per recursive unroll level), and streaming/microbatch or
    best-of-N callers would otherwise pay it on every invocation. Keyed by
    applicationId so a restarted JVM never sees stale JVM object handles;
    compile FAILURES (VariantCompileError → UDF residue) are not cached.
    """
    key = (
        df.sparkSession.sparkContext.applicationId,
        json.dumps(schema, sort_keys=True, default=str),
        assert_format,
        max_unroll,
    )
    hit = _PLAN_CACHE.get(key)
    if hit is not None:
        return hit
    plan = VariantPlanCompiler(schema, assert_format=assert_format, max_unroll=max_unroll)
    stages: list = []
    viol = plan.violations_column(F.col("__variant__"), stages=stages)
    if len(_PLAN_CACHE) >= _PLAN_CACHE_MAX:
        _PLAN_CACHE.pop(next(iter(_PLAN_CACHE)))
    entry = (viol, stages)
    _PLAN_CACHE[key] = entry
    return entry


def validate_variant_column(
    df, json_col: str, schema: Any, *, assert_format: bool = True, max_unroll: int = 5
):
    """df + [violations, valid] from a raw-JSON string column, all JVM-side.

    Unparseable JSON gets a single `json_parse_error` violation (reference:
    ValidateJSON decode failure, validate.go:27-39); a SQL-NULL input column
    is treated as absent (valid, no violations)."""
    # materialize the variant in its own projection: CollapseProject keeps a
    # multiply-referenced non-cheap expression in a separate Project, so the
    # JSON parses ONCE per row instead of once per keyword reference
    # (measured 3.4x on a 4-keyword schema; plan shows a single parseJson)
    tmp = "__variant__"
    staged = df.withColumn(tmp, F.try_parse_json(F.col(json_col)))
    v = F.col(tmp)
    parse_failed = F.col(json_col).isNotNull() & v.isNull()
    viol, stages = _compiled_variant_plan(df, schema, assert_format, max_unroll)
    staged = PlanCompiler.attach_stages(staged, stages)
    out = staged.withColumn(
        "violations",
        F.when(
            parse_failed,
            cond_violation(F.lit(True), F.lit(""), "parse", "json_parse_error"),
        ).otherwise(viol),
    ).drop(tmp, *[n for n, _ in stages])
    return out.withColumn("valid", F.size("violations") == 0)
