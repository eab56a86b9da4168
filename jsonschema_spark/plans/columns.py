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
claims, summary rows, staging) is the planner core shared with the raw-JSON
planner, ``plans.core``; this module holds the typed value model.
"""

from __future__ import annotations

from decimal import Decimal
from fractions import Fraction
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jsonschema_spark.formats import SPARK_REGEX_FORMATS
from jsonschema_spark.json_values import fmt_num
from jsonschema_spark.plans.core import (
    VIOLATION_SCHEMA_DDL,
    PlanCompiler,
    Val,
    cond_violation,
    dec_scale,
    divisor_fraction,
    double_multiple,
    element_summary,
    empty_violations,
    escape_token,
    joined_violation,
    list_summary,
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


def _num_lit(v: Any) -> Column:
    if isinstance(v, Fraction):
        if v.denominator == 1:
            return F.lit(int(v))
        return F.lit(float(v))
    return F.lit(v)


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
        return None

    def _compile_value(self, schema: dict, val: Val, present: Column, parts: list, valids: list, depth: int) -> None:
        def add(cond_violated: Column, keyword: str, code: str, params: dict[str, Column] | None = None) -> None:
            """cond applies only when the value is present."""
            cond = safe(present & cond_violated)
            parts.append(cond_violation(cond, val.path, keyword, code, params))
            valids.append(~cond)

        self._compile_assertions(schema, val, add, present)

        if (
            self.assert_content
            and isinstance(val.dtype, T.StringType)
            and ("contentEncoding" in schema or "contentMediaType" in schema)
        ):
            self._compile_content(schema, val, add, parts, valids, present)

        # ---- type-directed recursion ------------------------------------
        if isinstance(val.dtype, T.StructType):
            self._compile_object(schema, val, parts, valids, present, depth)
        if isinstance(val.dtype, T.ArrayType):
            self._compile_array(schema, val, parts, valids, present, depth)
        if isinstance(val.dtype, T.MapType):
            self._compile_map(schema, val, parts, valids, present, depth)

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
                vp = VariantPlanCompiler(s["contentSchema"], assert_format=self.assert_format)
            except VariantCompileError as exc:
                raise PlanCompileError(f"contentSchema needs the UDF path: {exc}") from exc
            sub_v = self._maybe_stage(
                vp.violations_column(
                    parsed, val.path,
                    stages=self._stages if not val.in_lambda else None,
                ),
                val,
            )
            ok = safe(parsed.isNotNull())
            parts.append(F.when(ok, sub_v).otherwise(empty_violations()))
            mismatch = safe(ok & (F.size(sub_v) > 0))
            parts.append(
                cond_violation(mismatch, val.path, "contentSchema", "content_schema_mismatch")
            )
            valids.append(~mismatch)

    # -------------------------------------------------------------- assertions

    def _compile_assertions(self, s: dict, val: Val, add, present: Column) -> None:
        dt = val.dtype

        if "type" in s:
            declared = s["type"] if isinstance(s["type"], list) else [s["type"]]
            actual = _spark_type_name(dt)
            ok = actual in declared or (actual == "integer" and "number" in declared)
            if not ok and not (actual == "number" and "integer" in declared):
                # statically wrong type: every present value violates
                add(
                    F.lit(True),
                    "type",
                    "type_mismatch",
                    {"received": F.lit(actual), "expected": F.lit(", ".join(map(str, declared)))},
                )
            elif actual == "number" and "integer" in declared and "number" not in declared:
                # dynamic integrality check on a float/double/decimal column
                add(
                    val.col.cast("double") != F.floor(val.col.cast("double")).cast("double"),
                    "type",
                    "type_mismatch",
                    {"received": F.lit("number"), "expected": F.lit("integer")},
                )

        if "enum" in s and isinstance(s["enum"], list):
            allowed = s["enum"]
            scalars = [a for a in allowed if isinstance(a, (str, int, float, bool)) or isinstance(a, Fraction)]
            if len(scalars) == len(allowed):
                lits = [_num_lit(a) if not isinstance(a, str) else F.lit(a) for a in allowed]
                add(
                    ~val.col.isin(*lits),
                    "enum",
                    "value_not_in_enum",
                    {
                        "received": val.col.cast("string"),
                        "expected": F.lit(", ".join(fmt_num(a) if not isinstance(a, str) else a for a in allowed)),
                    },
                )
            else:
                raise PlanCompileError("composite enum values need the UDF path (dynamic residue)")

        if "const" in s:
            cv = s["const"]
            if cv is None:
                add(present, "const", "const_mismatch_null")  # only null passes
            elif isinstance(cv, (str, bool)):
                add(val.col != F.lit(cv), "const", "const_mismatch")
            elif isinstance(cv, (int, float, Fraction)):
                add(val.col != _num_lit(cv), "const", "const_mismatch")
            else:
                raise PlanCompileError("composite const needs the UDF path (dynamic residue)")

        if _is_number_type(dt):
            for kw, code, op in (
                ("minimum", "value_below_minimum", "lt"),
                ("maximum", "value_above_maximum", "gt"),
                ("exclusiveMinimum", "exclusive_minimum_mismatch", "le"),
                ("exclusiveMaximum", "exclusive_maximum_mismatch", "ge"),
            ):
                if kw in s and isinstance(s[kw], (int, float, Fraction)) and not isinstance(s[kw], bool):
                    bound = _num_lit(s[kw])
                    cond = {
                        "lt": val.col < bound,
                        "gt": val.col > bound,
                        "le": val.col <= bound,
                        "ge": val.col >= bound,
                    }[op]
                    pkey = {
                        "minimum": "minimum",
                        "maximum": "maximum",
                        "exclusiveMinimum": "exclusive_minimum",
                        "exclusiveMaximum": "exclusive_maximum",
                    }[kw]
                    add(cond, kw, code, {"value": val.col, pkey: F.lit(fmt_num(s[kw]))})
            if "multipleOf" in s and isinstance(s["multipleOf"], (int, float, Fraction)) and not isinstance(s["multipleOf"], bool):
                div = s["multipleOf"]
                fdiv = divisor_fraction(div)
                if fdiv <= 0:
                    add(F.lit(True), "multipleOf", "invalid_multiple_of", {"multiple_of": F.lit(fmt_num(div))})
                elif _is_integer_type(dt) and fdiv.denominator == 1:
                    add(
                        (val.col % F.lit(int(fdiv))) != 0,
                        "multipleOf",
                        "not_multiple_of",
                        {"multiple_of": F.lit(fmt_num(div))},
                    )
                elif isinstance(dt, T.DecimalType) and _decimal_multiple_plan(fdiv, dt) is not None:
                    # decimal column: native remainder at a common exact
                    # scale. When the divisor's scale fits the column's, we
                    # stay at the column's own precision/scale (p<=18 keeps
                    # the Long-backed fast path; casting to decimal(38,12)
                    # forfeits it and costs ~7x steady-state — measured).
                    # A finer divisor bumps BOTH operands to
                    # scale=max(col, divisor) with a bounded precision bump,
                    # so 0.125 against decimal(10,2) is not rounded to 0.13
                    # and 0.003 is not truncated to zero. If the bump would
                    # overflow precision 38 (or the divisor never
                    # terminates), _decimal_multiple_plan returns None and
                    # we fall through to the scaled-double path below.
                    cdt = _decimal_multiple_plan(fdiv, dt)
                    sd_div = dec_scale(fdiv)
                    div_lit = F.lit(Decimal(int(fdiv * 10**sd_div)).scaleb(-sd_div))
                    add(
                        (val.col.cast(cdt) % div_lit.cast(cdt)) != F.lit(0).cast(cdt),
                        "multipleOf",
                        "not_multiple_of",
                        {"multiple_of": F.lit(fmt_num(div))},
                    )
                else:
                    # float/double column, non-integer or mixed divisor; a
                    # non-terminating or oversized divisor has no exact
                    # double multiple under decimal semantics
                    is_mult = double_multiple(val.col.cast("double"), fdiv)
                    add(
                        present if is_mult is None else ~is_mult,
                        "multipleOf", "not_multiple_of", {"multiple_of": F.lit(fmt_num(div))},
                    )

        if isinstance(dt, T.StringType):
            if "minLength" in s:
                n = int(s["minLength"])
                add(
                    F.length(val.col) < n,
                    "minLength",
                    "string_too_short",
                    {"min_length": F.lit(n), "length": F.length(val.col)},
                )
            if "maxLength" in s:
                n = int(s["maxLength"])
                add(
                    F.length(val.col) > n,
                    "maxLength",
                    "string_too_long",
                    {"max_length": F.lit(n), "length": F.length(val.col)},
                )
            if "pattern" in s and isinstance(s["pattern"], str):
                # Java regex via rlike; plan compiler validated syntax upstream
                add(
                    ~val.col.rlike(s["pattern"]),
                    "pattern",
                    "pattern_mismatch",
                    {"pattern": F.lit(s["pattern"])},
                )
            if "format" in s and isinstance(s["format"], str) and self.assert_format:
                fmt = s["format"]
                rx = SPARK_REGEX_FORMATS.get(fmt)
                if rx is not None:
                    add(~val.col.rlike(rx), "format", "format_mismatch", {"format": F.lit(fmt)})
                # non-regex formats are UDF residue — handled by functions.udf

    # ----------------------------------------------------------------- objects

    def _compile_object(self, s: dict, val: Val, parts, valids, present: Column, depth: int) -> None:
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
                cond = safe(present & (cnt < n))
                parts.append(
                    cond_violation(cond, val.path, "minProperties", "too_few_properties", {"min_properties": F.lit(n)})
                )
                valids.append(~cond)
            if "maxProperties" in s:
                n = int(s["maxProperties"])
                cond = safe(present & (cnt > n))
                parts.append(
                    cond_violation(cond, val.path, "maxProperties", "too_many_properties", {"max_properties": F.lit(n)})
                )
                valids.append(~cond)

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

    # ------------------------------------------------------------------ arrays

    def _compile_array(self, s: dict, val: Val, parts, valids, present: Column, depth: int) -> None:
        dt: T.ArrayType = val.dtype  # type: ignore[assignment]
        elem_dt = dt.elementType
        n = F.size(val.col)

        def add(cond: Column, keyword: str, code: str, params: dict[str, Column] | None = None) -> None:
            cond = safe(present & cond)
            parts.append(cond_violation(cond, val.path, keyword, code, params))
            valids.append(~cond)

        if "minItems" in s:
            k = int(s["minItems"])
            add(n < k, "minItems", "items_too_short", {"min_items": F.lit(k)})
        if "maxItems" in s:
            k = int(s["maxItems"])
            add(n > k, "maxItems", "items_too_long", {"max_items": F.lit(k)})
        if s.get("uniqueItems") is True:
            # hash-based distinct — Spark struct equality matches JSON equality
            # for fixed-schema elements (reference: unique_items.go hash+verify)
            add(
                F.size(F.array_distinct(val.col)) != n,
                "uniqueItems",
                "unique_items_mismatch",
                {"duplicates": F.lit("")},
            )

        prefix = s.get("prefixItems") if isinstance(s.get("prefixItems"), list) else []
        pi_conds: list[tuple[Column, Any]] = []
        for i, branch in enumerate(prefix):
            elem = F.element_at(val.col, i + 1)  # null when out of range
            sub_val = Val(
                col=F.when(n > i, elem),  # treat out-of-range as absent
                dtype=elem_dt,
                path=F.concat(val.path, F.lit(f"/{i}")),
                in_lambda=val.in_lambda,
            )
            sub = self._compile(branch, sub_val, depth)
            parts.append(sub.violations)
            valids.append(sub.valid)
            pi_conds.append((safe(present & ~sub.valid), i))
        parts.append(
            summary_violation(
                pi_conds, val.path, "prefixItems",
                "prefix_item_mismatch", "prefix_items_mismatch",
                param_single="index", param_plural="indexs", sort_plural=False,
            )
        )

        if "items" in s and isinstance(s["items"], (dict, bool)):
            branch = s["items"]
            # per-element violations via transform → flatten (no shuffle)
            def _elem_violations(x: Column, i: Column) -> Column:
                sub_val = Val(
                    col=x,
                    dtype=elem_dt,
                    path=F.concat(val.path, F.lit("/"), i.cast("string")),
                    in_lambda=True,
                )
                node = self._compile(branch, sub_val, depth)
                if prefix:
                    return F.when(i >= len(prefix), node.violations).otherwise(empty_violations())
                return node.violations

            # ONE evaluation of the per-element schema (staged when possible);
            # leafs AND the scalar-parity summary row both derive from it
            pev = self._maybe_stage(F.transform(val.col, _elem_violations), val)
            element_summary(present, pev, val.path, "items", "item_mismatch", "items_mismatch", parts, valids)

        if "contains" in s:
            branch = s["contains"]

            def _match(x: Column) -> Column:
                sub_val = Val(col=x, dtype=elem_dt, path=F.lit(""), in_lambda=True)
                return self._compile(branch, sub_val, depth).valid

            matches = F.size(F.filter(val.col, _match))
            min_c = int(s.get("minContains", 1))
            max_c = s.get("maxContains")
            if min_c > 0:
                add(matches < min_c, "contains", "contains_too_few_items", {"min_contains": F.lit(min_c)})
            if max_c is not None:
                add(matches > int(max_c), "maxContains", "contains_too_many_items", {"max_contains": F.lit(int(max_c))})

        if "unevaluatedItems" in s:
            # static resolution (SURVEY §2.3): an element is evaluated when a
            # claim source covers its index or a claimed contains matches it
            branch = s["unevaluatedItems"]
            sources = self._claims(s, val, depth, "Items")

            def _uneval_violations(x: Column, i: Column) -> Column:
                x_val = Val(col=x, dtype=elem_dt, path=F.concat(val.path, F.lit("/"), i.cast("string")), in_lambda=True)
                evaluated = self._item_claimed(sources, x_val, i, depth)
                return F.when(~evaluated, self._compile(branch, x_val, depth).violations).otherwise(empty_violations())

            if branch is not True and branch != {} and not self._evaluates_all(sources):
                pev = self._maybe_stage(F.transform(val.col, _uneval_violations), val)
                element_summary(
                    present, pev, val.path, "unevaluatedItems",
                    "unevaluated_item_mismatch", "unevaluated_items_mismatch", parts, valids,
                )

    # -------------------------------------------------------------------- maps

    def _compile_map(self, s: dict, val: Val, parts, valids, present: Column, depth: int) -> None:
        dt: T.MapType = val.dtype  # type: ignore[assignment]

        def add(cond: Column, keyword: str, code: str, params: dict[str, Column] | None = None) -> None:
            cond = safe(present & cond)
            parts.append(cond_violation(cond, val.path, keyword, code, params))
            valids.append(~cond)

        n = F.size(val.col)
        if "minProperties" in s:
            k = int(s["minProperties"])
            add(n < k, "minProperties", "too_few_properties", {"min_properties": F.lit(k)})
        if "maxProperties" in s:
            k = int(s["maxProperties"])
            add(n > k, "maxProperties", "too_many_properties", {"max_properties": F.lit(k)})
        if "required" in s and isinstance(s["required"], list):
            req_conds: list[tuple[Column, Any]] = []
            for prop in s["required"]:
                cond = safe(present & ~F.array_contains(F.map_keys(val.col), prop))
                req_conds.append((cond, prop))
                valids.append(~cond)
            parts.append(
                summary_violation(
                    req_conds, val.path, "required",
                    "missing_required_property", "missing_required_properties",
                    sort_plural=False,
                )
            )
        if "propertyNames" in s and isinstance(s["propertyNames"], dict):
            pn = s["propertyNames"]
            if "pattern" in pn:
                bad = F.filter(F.map_keys(val.col), lambda k: ~safe(k.rlike(pn["pattern"])))
                parts.append(
                    list_summary(
                        present, bad, val.path, "propertyNames",
                        "property_name_mismatch", "property_names_mismatch",
                    )
                )
                valids.append(~safe(present & (F.size(bad) > 0)))


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
