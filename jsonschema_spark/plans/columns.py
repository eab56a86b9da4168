"""Constraint-plan compiler: JSON Schema over a *typed* Spark schema lowers to
pure ``pyspark.sql.Column`` expressions — the engine's whole-stage-codegen
"fast path" for 100 TB scale.

Where the reference interprets one instance at a time
(reference: validate.go evaluate), we compile the schema ONCE on the driver
into (a) a boolean ``valid`` column and (b) a ``violations``
``array<struct<instance_path,keyword,code,params>>`` column, then let
Catalyst/Tungsten own execution: predicate pushdown, common-subexpression
elimination, whole-stage codegen, AQE. Per-span checks ride higher-order
functions (``transform``/``filter``/``exists``) — no explode, no shuffle, and
never per-row Python.

Null convention (documented divergence): a NULL column/field is treated as the
property being *absent* — ``required`` fails on NULL; value assertions are
skipped on NULL (JSON Schema applies assertions only to present values).

Dynamic residue (patterns Java regex can't run, non-regex formats, dynamic
JSON documents) is routed to the Arrow-batched evaluator UDF in
``jsonschema_spark.functions.udf`` — see SURVEY.md §4.2.

The applicator layer (logical applicators, $ref / $dynamicRef, unevaluated*
claims, summary rows, staging), the value assertions and the array and map
keywords are the planner core shared with the raw-JSON planner,
``plans.core``. This module holds the typed value model, which answers the
core's type, text, number, equality and multiple-of questions from the
column's static type, the content vocabulary and the static lowering of
StructType objects.
"""

from __future__ import annotations

from decimal import Decimal
from fractions import Fraction
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jsonschema_spark.json_values import json_type
from jsonschema_spark.plans.core import (
    VIOLATION_SCHEMA_DDL,
    PlanCompiler,
    Val,
    cond_violation,
    dec_scale,
    double_multiple,
    empty_violations,
    escape_token,
    is_in,
    joined_violation,
    num_lit,
    num_text,
    safe,
    summary_violation,
)

__all__ = ["SparkPlanCompiler", "validate_dataframe", "VIOLATION_SCHEMA_DDL"]


class PlanCompileError(ValueError):
    pass


def _is_number_type(dt: T.DataType) -> bool:
    return isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType, T.DecimalType))


def _is_integer_type(dt: T.DataType) -> bool:
    return isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))


def _decimal_multiple_plan(fdiv: Fraction, dt: T.DecimalType) -> str | None:
    """Common decimal type for an EXACT `col % divisor` remainder, or None
    when the divisor never terminates or the scale bump would overflow
    precision 38 (callers fall back to the scaled-double path). The scale is
    max(column scale, divisor scale) so neither operand is rounded; the
    precision bump is bounded by the scale delta plus the divisor's integer
    digits."""
    sd = dec_scale(fdiv)
    if sd is None:
        return None
    t_scale = max(dt.scale, sd)
    t_prec = max(dt.precision + (t_scale - dt.scale), len(str(max(int(fdiv), 1))) + t_scale)
    if t_prec > 38:
        return None
    return f"decimal({t_prec},{t_scale})"


def _family(type_name: str) -> str:
    """The JSON type family equality compares within: integer is a number."""
    return "number" if type_name == "integer" else type_name


def _spark_type_name(dt: T.DataType) -> str:
    """JSON type family of a Spark type (static 'type' checking)."""
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if _is_integer_type(dt):
        return "integer"
    if _is_number_type(dt):
        return "number"
    if isinstance(dt, (T.ArrayType,)):
        return "array"
    if isinstance(dt, (T.StructType, T.MapType)):
        return "object"
    if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return "string"  # serialized form
    if isinstance(dt, T.NullType):
        return "null"
    return "unknown"


class SparkPlanCompiler(PlanCompiler):
    """Compiles a JSON Schema against a typed Spark schema (driver-side, once).

    The value model is the DataFrame's static type: a keyword that cannot
    apply to a column's type compiles to nothing, and name-keyed applicators
    resolve against the StructType's field set at plan time. ``$ref`` /
    ``$dynamicRef`` unroll statically; recursion terminates when the fixed
    StructType runs out of matching fields, else ``MAX_DEPTH`` raises
    (SURVEY §4.2.5-6, reference validate.go:155-177).
    """

    error = PlanCompileError
    MAX_DEPTH = 16  # depth counts $ref / $dynamicRef hops
    depth_error = (
        f"$ref/$dynamicRef nesting exceeds {MAX_DEPTH}: the recursion "
        "does not ground out in this DataFrame's static type (genuinely "
        "unbounded — route to the scalar/UDF path)"
    )

    def __init__(
        self, schema: Any, *, assert_format: bool = True, assert_content: bool = False
    ) -> None:
        super().__init__(schema, assert_format=assert_format)
        self.assert_content = assert_content

    # -------------------------------------------------------------- public API

    def violations_column(
        self,
        df_schema: T.StructType,
        root: Column | None = None,
        stages: list[tuple[str, Column]] | None = None,
    ) -> Column:
        """Build the violations array column for rows of ``df_schema``;
        ``stages`` as in :meth:`PlanCompiler._compile_root` (per-element
        transforms for items summaries, per-property violations)."""
        if root is None:
            root = F.struct(*[F.col(f.name).alias(f.name) for f in df_schema.fields])
        return self._compile_root(Val(col=root, dtype=df_schema, path=F.lit("")), stages).violations

    def apply(
        self,
        df: DataFrame,
        *,
        violations_col: str = "violations",
        valid_col: str = "valid",
    ) -> DataFrame:
        """df + [violations, valid] columns. Narrow projections, no shuffle."""
        stages: list[tuple[str, Column]] = []
        v = self.violations_column(df.schema, stages=stages)
        out = self.attach_stages(df, stages)
        out = out.withColumn(violations_col, v).withColumn(
            valid_col, F.size(F.col(violations_col)) == 0
        )
        return out.drop(*[n for n, _ in stages]) if stages else out

    # ---------------------------------------------------------------- internal

    def _has(self, val: Val, name: str) -> Column | None:
        if isinstance(val.dtype, T.StructType) and name in val.dtype.fieldNames():
            return val.col[name].isNotNull()
        if isinstance(val.dtype, T.MapType):
            return F.map_contains_key(self._map(val), name)
        return None

    # collection hooks (plans.core): a depth step is a $ref hop only; an
    # element's / value's type is the array's / map's static one

    STEP = 0

    def _array(self, val: Val, present: Column) -> tuple[Column, Column] | None:
        return (val.col, present) if isinstance(val.dtype, T.ArrayType) else None

    def _keyed(self, val: Val, present: Column) -> Column | None:
        return present if isinstance(val.dtype, T.MapType) else None

    def _map(self, val: Val) -> Column:
        if isinstance(val.dtype.keyType, T.StringType):
            return val.col
        return F.transform_keys(val.col, lambda k, _: k.cast("string"))

    def _get(self, val: Val, name: str) -> Column:
        return self._map(val)[name]

    def _at(self, val: Val, arr: Column, i: int) -> Column:
        return F.when(F.size(arr) > i, F.element_at(arr, i + 1))  # out of range: absent

    def _member(self, val: Val, col: Column, path: Column, in_lambda: bool) -> Val:
        dt = val.dtype.elementType if isinstance(val.dtype, T.ArrayType) else val.dtype.valueType
        return Val(col=col, dtype=dt, path=path, in_lambda=in_lambda)

    # value hooks (plans.core): the column's static type answers every type
    # question at plan time

    def _is(self, val: Val, family: str) -> bool:
        # a date / timestamp stands for a string in `type` and equality only:
        # its Spark text is not its JSON serialization
        if family == "string":
            return isinstance(val.dtype, T.StringType)
        return _is_number_type(val.dtype)

    def _text(self, val: Val) -> Column:
        return val.col

    _number = _text

    def _shown(self, val: Val) -> Column:
        # a float/double's integral value prints without ".0", like the
        # scalar core
        if isinstance(val.dtype, (T.FloatType, T.DoubleType)):
            return num_text(val.col, val.col.try_cast("decimal(38,0)"))
        return val.col

    def _type_check(self, val: Val, declared: list) -> tuple[Column | bool, Column] | None:
        actual = _spark_type_name(val.dtype)
        if actual in declared or (actual == "integer" and "number" in declared):
            return None
        if actual == "number" and "integer" in declared:
            # dynamic integrality check on a float/double/decimal column
            d = val.col.cast("double")
            return d != F.floor(d).cast("double"), F.lit("number")
        return True, F.lit(actual)  # statically wrong type

    def _equals(self, val: Val, members: list) -> Column | bool:
        # a member of a JSON type the column cannot hold never matches (a
        # SQL NULL is absent, never a JSON null)
        family = _family(_spark_type_name(val.dtype))
        held = [m for m in members if m is not None and _family(json_type(m)) == family]
        if not held:
            return False
        if family in ("array", "object"):
            raise PlanCompileError("composite enum/const needs the UDF path (dynamic residue)")
        return is_in(val.col, [num_lit(m) for m in held])

    def _multiple(self, val: Val, fdiv: Fraction) -> Column | None:
        dt = val.dtype
        if _is_integer_type(dt) and fdiv.denominator == 1:
            return (val.col % F.lit(int(fdiv))) == 0
        cdt = _decimal_multiple_plan(fdiv, dt) if isinstance(dt, T.DecimalType) else None
        if cdt is not None:
            # decimal column: native remainder at a common exact scale. When
            # the divisor's scale fits the column's, we stay at the column's
            # own precision/scale (p<=18 keeps the Long-backed fast path;
            # casting to decimal(38,12) forfeits it and costs ~7x
            # steady-state — measured). A finer divisor bumps BOTH operands
            # to scale=max(col, divisor) with a bounded precision bump, so
            # 0.125 against decimal(10,2) is not rounded to 0.13 and 0.003 is
            # not truncated to zero. If the bump would overflow precision 38
            # (or the divisor never terminates), _decimal_multiple_plan
            # returns None and we fall through to the scaled-double path.
            sd_div = dec_scale(fdiv)
            div_lit = F.lit(Decimal(int(fdiv * 10**sd_div)).scaleb(-sd_div))
            return (val.col.cast(cdt) % div_lit.cast(cdt)) == F.lit(0).cast(cdt)
        # float/double column, non-integer or mixed divisor
        return double_multiple(val.col.cast("double"), fdiv)

    def _compile_own(self, s: dict, val: Val, present: Column, add, parts: list, valids: list, depth: int) -> None:
        if (
            self.assert_content
            and isinstance(val.dtype, T.StringType)
            and ("contentEncoding" in s or "contentMediaType" in s)
        ):
            self._compile_content(s, val, add, parts, valids, present)

        # a struct's field set is static; arrays and maps lower in the core
        if isinstance(val.dtype, T.StructType):
            self._compile_object(s, val, add, parts, valids, present, depth)

    # ---------------------------------------------------------------- content

    def _compile_content(self, s: dict, val: Val, add, parts, valids, present: Column) -> None:
        """Content vocabulary as assertions, lowered JVM-side for the
        built-in base64 + application/json handlers (try_to_binary /
        try_parse_json return NULL on malformed input); contentSchema runs
        through the Variant planner on the parsed value (reference:
        content.go evaluateContent)."""
        enc = s.get("contentEncoding")
        decoded: Column | None = None
        if isinstance(enc, str):
            if enc != "base64":
                add(F.lit(True), "contentEncoding", "unsupported_encoding", {"encoding": F.lit(enc)})
                return
            decoded = F.try_to_binary(val.col, F.lit("base64"))
            add(decoded.isNull(), "contentEncoding", "invalid_encoding", {"encoding": F.lit(enc)})
        mt = s.get("contentMediaType")
        if not isinstance(mt, str):
            return
        if mt != "application/json":
            add(F.lit(True), "contentMediaType", "unsupported_media_type", {"media_type": F.lit(mt)})
            return
        text = decoded.cast("string") if decoded is not None else val.col
        parsed = self._maybe_stage(F.try_parse_json(text), val)
        decode_ok = decoded.isNotNull() if decoded is not None else F.lit(True)
        add(decode_ok & parsed.isNull(), "contentMediaType", "invalid_media_type", {"media_type": F.lit(mt)})
        if "contentSchema" in s:
            from jsonschema_spark.plans.variant import (
                VariantCompileError,
                VariantPlanCompiler,
            )

            try:
                sub_v = VariantPlanCompiler(s["contentSchema"], assert_format=self.assert_format).violations_column(
                    parsed, val.path, stages=self._stages if not val.in_lambda else None,
                )
            except VariantCompileError as exc:
                raise PlanCompileError(f"contentSchema needs the UDF path: {exc}") from exc
            sub_v = self._maybe_stage(sub_v, val)
            ok = safe(parsed.isNotNull())
            parts.append(F.when(ok, sub_v).otherwise(empty_violations()))
            mismatch = safe(ok & (F.size(sub_v) > 0))
            parts.append(
                cond_violation(mismatch, val.path, "contentSchema", "content_schema_mismatch")
            )
            valids.append(~mismatch)

    # ----------------------------------------------------------------- objects

    def _compile_object(self, s: dict, val: Val, add, parts, valids, present: Column, depth: int) -> None:
        dt: T.StructType = val.dtype  # type: ignore[assignment]
        fields = {f.name: f for f in dt.fields}

        if "required" in s and isinstance(s["required"], list):
            # ONE row, singular/plural by missing count, names joined in
            # required-list order (scalar core evaluator.py:556-566)
            conds: list[tuple[Column, Any]] = []
            for prop in s["required"]:
                if prop in fields:
                    miss = safe(present & val.col[prop].isNull())
                else:
                    miss = present  # statically absent field: always missing
                conds.append((miss, prop))
                valids.append(~miss)
            parts.append(
                summary_violation(
                    conds, val.path, "required",
                    "missing_required_property", "missing_required_properties",
                    sort_plural=False,
                )
            )

        if "dependentRequired" in s and isinstance(s["dependentRequired"], dict):
            # ONE row with every missing dependency joined (scalar core
            # evaluator.py:567-578)
            dr_conds: list[tuple[Column, str]] = []
            for prop, deps in s["dependentRequired"].items():
                if prop not in fields or not isinstance(deps, list):
                    continue
                have = val.col[prop].isNotNull()
                for dep in deps:
                    dep_missing = val.col[dep].isNull() if dep in fields else F.lit(True)
                    cond = safe(present & have & dep_missing)
                    dr_conds.append((cond, dep))
                    valids.append(~cond)
            if dr_conds:
                parts.append(
                    joined_violation(
                        dr_conds, val.path, "dependentRequired",
                        "dependent_property_required", "missing_properties",
                    )
                )

        if "minProperties" in s or "maxProperties" in s:
            # struct: count of non-null members (null ≡ absent convention)
            cnt = None
            for name in fields:
                c = val.col[name].isNotNull().cast("int")
                cnt = c if cnt is None else cnt + c
            cnt = cnt if cnt is not None else F.lit(0)
            if "minProperties" in s:
                n = int(s["minProperties"])
                add(cnt < n, "minProperties", "too_few_properties", {"min_properties": F.lit(n)})
            if "maxProperties" in s:
                n = int(s["maxProperties"])
                add(cnt > n, "maxProperties", "too_many_properties", {"max_properties": F.lit(n)})

        if "properties" in s and isinstance(s["properties"], dict):
            prop_conds: list[tuple[Column, Any]] = []
            for prop, branch in s["properties"].items():
                if prop not in fields:
                    continue  # statically absent → subschema never applies
                sub_val = Val(
                    col=val.col[prop],
                    dtype=fields[prop].dataType,
                    path=F.concat(val.path, F.lit("/" + escape_token(prop))),
                    in_lambda=val.in_lambda,
                )
                sub = self._compile(branch, sub_val, depth)
                if self._stages is not None and not val.in_lambda:
                    # evaluate each property's checks ONCE: the staged
                    # violations array feeds leafs, validity AND the summary
                    # condition (predicates otherwise re-evaluate per use —
                    # measured ~2x on a 4-property numeric schema)
                    viols = self._maybe_stage(sub.violations, val)
                    bad = safe(present & (F.size(viols) > 0))
                    parts.append(viols)
                    valids.append(~bad)
                    prop_conds.append((bad, prop))
                else:
                    # in a HOF lambda (or without staging) the predicates
                    # re-evaluate for the summary condition; a let-binding
                    # via nested transform was tried and is SLOWER (HOFs are
                    # CodegenFallback — the extra interpreted transform per
                    # element costs more than duplicated codegen'd predicates)
                    parts.append(sub.violations)
                    valids.append(sub.valid)
                    prop_conds.append((safe(present & ~sub.valid), prop))
            parts.append(
                summary_violation(
                    prop_conds, val.path, "properties",
                    "property_mismatch", "properties_mismatch",
                )
            )

        # ---- statically-resolved name-keyed applicators (SURVEY §2.4): with
        # a fixed StructType the property-name set is known at plan time, so
        # patternProperties / propertyNames / additionalProperties /
        # unevaluatedProperties all reduce to per-field predicates
        import re as _re

        if "patternProperties" in s and isinstance(s["patternProperties"], dict):
            pp_conds: list[tuple[Column, Any]] = []
            for pat, branch in s["patternProperties"].items():
                rx = _re.compile(pat)
                for name, f in fields.items():
                    if not rx.search(name):
                        continue
                    sub_val = Val(
                        col=val.col[name],
                        dtype=f.dataType,
                        path=F.concat(val.path, F.lit("/" + escape_token(name))),
                        in_lambda=val.in_lambda,
                    )
                    sub = self._compile(branch, sub_val, depth)
                    parts.append(sub.violations)
                    valids.append(sub.valid)
                    pp_conds.append((safe(present & ~sub.valid), name))
            parts.append(
                summary_violation(
                    pp_conds, val.path, "patternProperties",
                    "pattern_property_mismatch", "pattern_properties_mismatch",
                    dedupe_plural=True,
                )
            )

        if "propertyNames" in s and isinstance(s["propertyNames"], (dict, bool)):
            # the names themselves are compile-time constants: evaluate each
            # against the subschema with the scalar core, once, on the driver
            from jsonschema_spark.compiler import Compiler

            name_schema = Compiler().set_assert_format(self.assert_format).compile(
                s["propertyNames"], validate_regex=False
            )
            pn_conds: list[tuple[Column, Any]] = []
            for name in fields:
                if name_schema.validate(name).valid:
                    continue
                cond = safe(present & val.col[name].isNotNull())
                pn_conds.append((cond, name))
                valids.append(~cond)
            parts.append(
                summary_violation(
                    pn_conds, val.path, "propertyNames",
                    "property_name_mismatch", "property_names_mismatch",
                )
            )

        if "additionalProperties" in s:
            declared = set(s.get("properties", {})) if isinstance(s.get("properties"), dict) else set()
            pats = [
                _re.compile(p)
                for p in (s.get("patternProperties") or {})
                if isinstance(s.get("patternProperties"), dict)
            ]
            extra = [
                n for n in fields
                if n not in declared and not any(rx.search(n) for rx in pats)
            ]
            self._apply_to_extra_fields(
                s["additionalProperties"], extra, fields, val, parts, valids, present,
                depth, "additionalProperties",
                "additional_property_mismatch", "additional_properties_mismatch",
            )

        if "unevaluatedProperties" in s:
            # claimed at plan time by unconditional sources; per field, at
            # runtime, by the gates of the conditional branches claiming it
            claimed: set = set()
            cond_claims: dict = {}
            for gate, c in self._claims(s, val, depth, "Properties"):
                names = {n for n in fields if c.every or n in c.names or any(_re.search(p, n) for p in c.patterns)}
                if gate is None:
                    claimed |= names
                else:
                    for n in names:
                        cond_claims.setdefault(n, []).append(gate)
            extra = [n for n in fields if n not in claimed]
            self._apply_to_extra_fields(
                s["unevaluatedProperties"], extra, fields, val, parts, valids, present,
                depth, "unevaluatedProperties",
                "unevaluated_property_mismatch", "unevaluated_properties_mismatch",
                cond_claims=cond_claims,
            )

    def _apply_to_extra_fields(
        self, branch, names, fields, val, parts, valids, present, depth,
        keyword, code_single, code_plural, *, cond_claims=None,
    ) -> None:
        """Apply a subschema (or False) to fields outside the claimed set;
        cond_claims optionally gates a field as claimed at runtime (e.g. a
        succeeding anyOf branch that declares it). Emission mirrors the
        scalar core: per-field leaf violations at the child path (for False,
        a false_schema_mismatch leaf) plus ONE singular/plural summary row at
        this path (evaluator.py:629-649, 383-406)."""
        if branch is True or branch == {}:
            return
        conds: list[tuple[Column, Any]] = []
        for name in names:
            unclaimed = F.lit(True)
            if cond_claims and name in cond_claims:
                claim = cond_claims[name][0]
                for c in cond_claims[name][1:]:
                    claim = claim | c
                unclaimed = ~safe(claim)
            field_present = val.col[name].isNotNull() & unclaimed
            child_path = F.concat(val.path, F.lit("/" + escape_token(name)))
            if branch is False:
                cond = safe(present & field_present)
                parts.append(
                    cond_violation(cond, child_path, "schema", "false_schema_mismatch")
                )
            else:
                sub_val = Val(
                    col=val.col[name],
                    dtype=fields[name].dataType,
                    path=child_path,
                    in_lambda=val.in_lambda,
                )
                sub = self._compile(branch, sub_val, depth + 1)
                cond = safe(present & field_present & ~sub.valid)
                parts.append(
                    F.when(safe(present & field_present), sub.violations).otherwise(
                        empty_violations()
                    )
                )
            conds.append((cond, name))
            valids.append(~cond)
        parts.append(
            summary_violation(conds, val.path, keyword, code_single, code_plural)
        )


def validate_dataframe(
    df: DataFrame,
    schema: Any,
    *,
    violations_col: str = "violations",
    valid_col: str = "valid",
    assert_format: bool = True,
) -> DataFrame:
    """One-shot: attach violations + valid columns for a JSON Schema."""
    return SparkPlanCompiler(schema, assert_format=assert_format).apply(
        df, violations_col=violations_col, valid_col=valid_col
    )
