"""Dynamic-JSON constraint plan over Spark VariantType — the JVM fast path
for documents whose schema is NOT statically typed.

Where plans.columns compiles against a fixed StructType, this compiler lowers
the same JSON Schema semantics onto `try_parse_json` variants: typing via
`schema_of_variant` (BIGINT / DECIMAL(p,0) => integer, VOID => JSON null,
SQL NULL => absent), traversal via `try_variant_get`, arrays via
`cast to array<variant>` + higher-order functions, object keys via
`cast to map<string,variant>`. Zero Python per row. The applicator layer
(logical applicators, $ref / $dynamicRef, unevaluated* claims, summary rows)
is the shared planner core in plans.core.

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

from fractions import Fraction
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from jsonschema_spark.formats import SPARK_REGEX_FORMATS
from jsonschema_spark.json_values import fmt_num
from jsonschema_spark.plans.core import (
    Node,
    PlanCompiler,
    Val,
    cond_violation,
    divisor_fraction,
    double_multiple,
    element_summary,
    empty_violations,
    escape_token,
    joined_violation,
    list_summary,
    mk_violation,
    safe,
    summary_violation,
)

__all__ = ["VariantPlanCompiler", "VariantCompileError", "validate_variant_column"]

# keywords the variant path supports; anything else => fall back to UDF path
_SUPPORTED = {
    "type", "enum", "const", "minimum", "maximum", "exclusiveMinimum",
    "exclusiveMaximum", "multipleOf", "minLength", "maxLength", "pattern",
    "format", "required", "properties", "items", "prefixItems", "minItems",
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

# propertyNames subschemas evaluate against the key STRING; only these
# keywords are expressible as plain string-column predicates
_NAME_SCHEMA_KEYWORDS = {
    "type", "pattern", "minLength", "maxLength", "enum", "const", "format",
    "title", "description", "$comment",
}

_BOUNDS = (
    ("minimum", "value_below_minimum", "minimum", lambda x, b: x < b),
    ("maximum", "value_above_maximum", "maximum", lambda x, b: x > b),
    ("exclusiveMinimum", "exclusive_minimum_mismatch", "exclusive_minimum", lambda x, b: x <= b),
    ("exclusiveMaximum", "exclusive_maximum_mismatch", "exclusive_maximum", lambda x, b: x >= b),
)


class VariantCompileError(ValueError):
    pass


def _esc_key(k: Column) -> Column:
    """JSON-pointer token escaping for a runtime key column."""
    return F.replace(F.replace(k, F.lit("~"), F.lit("~0")), F.lit("/"), F.lit("~1"))


def _is_number_t(t: Column) -> Column:
    return (t == "BIGINT") | (t == "DOUBLE") | (t == "FLOAT") | t.startswith("DECIMAL")


def _is_integer_t(t: Column, v: Column) -> Column:
    d = F.try_variant_get(v, "$", "double")
    return (
        (t == "BIGINT")
        | (t.rlike(r"^DECIMAL\(\d+,0\)$"))
        | (((t == "DOUBLE") | (t == "FLOAT") | t.startswith("DECIMAL")) & (d == F.floor(d)))
    )


def _json_type(t: Column, v: Column) -> Column:
    """JSON type name of a variant (reference: utils.go getDataType)."""
    return (
        F.when(t == "VOID", "null")
        .when(t == "STRING", "string")
        .when(t == "BOOLEAN", "boolean")
        .when(t.startswith("ARRAY"), "array")
        .when(t.startswith("OBJECT") | (t == "STRUCT"), "object")
        .when(_is_integer_t(t, v), "integer")
        .when(_is_number_t(t), "number")
        .otherwise("unknown")
    )


def _num_text(v: Column, num: Column) -> Column:
    """A numeric variant printed like json_values.fmt_num: integral values
    without a fraction part ("3", never "3.0"), others in double form."""
    return F.when(
        num == F.floor(num),
        F.coalesce(F.try_variant_get(v, "$", "decimal(38,0)").cast("string"), num.cast("string")),
    ).otherwise(num.cast("string"))


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
            elif kw == "propertyNames" and isinstance(sub, dict):
                bad = set(sub) - _NAME_SCHEMA_KEYWORDS
                if bad:
                    raise VariantCompileError(
                        f"propertyNames keywords {sorted(bad)} need the UDF path"
                    )
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
        return Val(v, val.path, self._maybe_stage(F.schema_of_variant(v), val), val.in_lambda)

    def _false_node(self, val: Val) -> Node:
        # an ABSENT value (SQL NULL — e.g. zip-padding beyond array end)
        # satisfies even the false schema; JSON null (VOID) does not
        return Node(
            val.col.isNull(),
            cond_violation(val.col.isNotNull(), val.path, "schema", "false_schema_mismatch"),
        )

    def _node(self, present: Column, parts: list, valids: list) -> Node:
        # SQL NULL == absent (valid, no rows); VOID == JSON null
        node = super()._node(present, parts, valids)
        return Node(
            F.when(present, node.valid).otherwise(F.lit(True)),
            F.when(present, node.violations).otherwise(empty_violations()),
        )

    def _has(self, val: Val, name: str) -> Column:
        return val.dtype.startswith("OBJECT") & self._child(val, name).isNotNull()

    @staticmethod
    def _child(val: Val, name: str) -> Column:
        return F.try_variant_get(val.col, f"$['{name}']", "variant")

    def _compile_value(self, s: dict, val: Val, present: Column, parts: list, valids: list, depth: int) -> None:
        def add(cond_violated: Column, keyword: str, code: str, params: dict[str, Column] | None = None) -> None:
            cond = present & safe(cond_violated)
            parts.append(cond_violation(cond, val.path, keyword, code, params))
            valids.append(~cond)

        self._assertions(s, val.col, val.dtype, add)
        self._object_kw(s, val, parts, valids, present, depth)
        self._array_kw(s, val, parts, valids, present, depth)

    # ------------------------------------------------------------- assertions

    def _assertions(self, s: dict, v: Column, t: Column, add) -> None:
        jt = _json_type(t, v)
        num = F.try_variant_get(v, "$", "double")
        text = F.when(t == "STRING", F.try_variant_get(v, "$", "string"))

        if "type" in s:
            declared = s["type"] if isinstance(s["type"], list) else [s["type"]]
            ok = jt.isin(*declared)
            if "number" in declared:
                ok = ok | (jt == "integer")
            add(~ok, "type", "type_mismatch",
                {"received": jt, "expected": F.lit(", ".join(map(str, declared)))})

        if "enum" in s and isinstance(s["enum"], list):
            ok = F.lit(False)
            for item in s["enum"]:
                ok = ok | self._eq_const(v, t, num, text, item)
            # received / expected as the scalar core prints them
            received = (
                F.when(jt == "string", text)
                .when(jt.isin("integer", "number"), _num_text(v, num))
                .when(jt == "boolean", F.try_variant_get(v, "$", "string"))
                .otherwise(jt)
            )
            expected = ", ".join(x if isinstance(x, str) else fmt_num(x) for x in s["enum"])
            add(~ok, "enum", "value_not_in_enum", {"received": received, "expected": F.lit(expected)})

        if "const" in s:
            add(~self._eq_const(v, t, num, text, s["const"]), "const", "const_mismatch")

        for kw, code, pkey, mk in _BOUNDS:
            if kw in s and isinstance(s[kw], (int, float, Fraction)) and not isinstance(s[kw], bool):
                add(_is_number_t(t) & mk(num, F.lit(float(s[kw]))), kw, code,
                    {"value": _num_text(v, num), pkey: F.lit(fmt_num(s[kw]))})

        if "multipleOf" in s and isinstance(s["multipleOf"], (int, float, Fraction)) and not isinstance(s["multipleOf"], bool):
            div = s["multipleOf"]
            fdiv = divisor_fraction(div)
            param = {"multiple_of": F.lit(fmt_num(div))}
            if fdiv <= 0:
                add(F.lit(True), "multipleOf", "invalid_multiple_of", param)
            else:
                is_mult = double_multiple(num, fdiv)
                cond = _is_number_t(t) if is_mult is None else _is_number_t(t) & ~is_mult
                add(cond, "multipleOf", "not_multiple_of", param)

        if "minLength" in s:
            n = int(s["minLength"])
            add((t == "STRING") & (F.length(text) < n), "minLength", "string_too_short",
                {"min_length": F.lit(n), "length": F.length(text)})
        if "maxLength" in s:
            n = int(s["maxLength"])
            add((t == "STRING") & (F.length(text) > n), "maxLength", "string_too_long",
                {"max_length": F.lit(n), "length": F.length(text)})
        if "pattern" in s and isinstance(s["pattern"], str):
            add((t == "STRING") & ~text.rlike(s["pattern"]), "pattern", "pattern_mismatch",
                {"pattern": F.lit(s["pattern"])})
        if "format" in s and isinstance(s["format"], str) and self.assert_format:
            rx = SPARK_REGEX_FORMATS.get(s["format"])
            if rx is not None:
                add((t == "STRING") & ~text.rlike(rx), "format", "format_mismatch",
                    {"format": F.lit(s["format"])})

    def _eq_const(self, v: Column, t: Column, num: Column, text: Column, item: Any) -> Column:
        if item is None:
            return t == "VOID"
        if isinstance(item, bool):
            return (t == "BOOLEAN") & (F.try_variant_get(v, "$", "boolean") == F.lit(item))
        if isinstance(item, (int, float, Fraction)):
            return _is_number_t(t) & (num == F.lit(float(item)))
        if isinstance(item, str):
            return (t == "STRING") & (text == F.lit(item))
        # composite const/enum: canonical JSON comparison
        import json as _json

        return F.to_json(v) == F.lit(_json.dumps(item, separators=(",", ":"), sort_keys=True))

    # ---------------------------------------------------------------- objects

    def _object_kw(self, s: dict, val: Val, parts, valids, present: Column, depth: int) -> None:
        v, path = val.col, val.path
        is_obj = val.dtype.startswith("OBJECT")

        if "required" in s and isinstance(s["required"], list):
            req_conds = []
            for name in s["required"]:
                cond = present & safe(is_obj & self._child(val, name).isNull())
                req_conds.append((cond, name))
                valids.append(~cond)
            parts.append(
                summary_violation(
                    req_conds, path, "required",
                    "missing_required_property", "missing_required_properties",
                    sort_plural=False,
                )
            )

        if "dependentRequired" in s and isinstance(s["dependentRequired"], dict):
            dr_conds = []
            for trigger, needs in s["dependentRequired"].items():
                trig = self._child(val, trigger).isNotNull()
                for name in needs:
                    cond = present & safe(is_obj & trig & self._child(val, name).isNull())
                    dr_conds.append((cond, name))
                    valids.append(~cond)
            if dr_conds:
                parts.append(
                    joined_violation(
                        dr_conds, path, "dependentRequired",
                        "dependent_property_required", "missing_properties",
                    )
                )

        if "properties" in s and isinstance(s["properties"], dict):
            prop_conds = []
            for name, sub in s["properties"].items():
                child = Val(self._child(val, name), F.concat(path, F.lit("/" + escape_token(name))),
                            in_lambda=val.in_lambda)
                node = self._compile(sub, child, depth + 1)
                if self._stages is not None and not val.in_lambda:
                    # evaluate each property's checks ONCE: the staged
                    # violations feed leafs, validity AND the summary flag
                    viols = self._maybe_stage(node.violations, val)
                    gated_invalid = present & is_obj & safe(F.size(viols) > 0)
                else:
                    viols = node.violations
                    gated_invalid = present & is_obj & safe(~node.valid)
                parts.append(F.when(present & is_obj, viols).otherwise(empty_violations()))
                prop_conds.append((gated_invalid, name))
                valids.append(~gated_invalid)
            parts.append(
                summary_violation(
                    prop_conds, path, "properties",
                    "property_mismatch", "properties_mismatch",
                )
            )

        # ---- dynamic-key residue: enumerate keys via map<string,variant> ----
        needs_keys = any(
            k in s
            for k in (
                "patternProperties", "additionalProperties", "propertyNames",
                "minProperties", "maxProperties", "unevaluatedProperties",
            )
        )
        if not needs_keys:
            return
        # stage the cast + key list: every per-key access references the
        # STAGED map column, so the variant→map conversion happens once
        # per row instead of once per key reference
        m = self._maybe_stage(v.try_cast("map<string,variant>"), val)
        keys = self._maybe_stage(F.map_keys(m), val)
        obj = present & is_obj & m.isNotNull()

        def key_summary(bad: Column, keyword: str, code_single: str, code_plural: str) -> None:
            parts.append(list_summary(obj, bad, path, keyword, code_single, code_plural))
            valids.append(~safe(obj & (F.size(bad) > 0)))

        if "minProperties" in s:
            k = int(s["minProperties"])
            cond = obj & safe(F.size(keys) < k)
            parts.append(cond_violation(cond, path, "minProperties", "too_few_properties",
                                        {"min_properties": F.lit(k)}))
            valids.append(~cond)
        if "maxProperties" in s:
            k = int(s["maxProperties"])
            cond = obj & safe(F.size(keys) > k)
            parts.append(cond_violation(cond, path, "maxProperties", "too_many_properties",
                                        {"max_properties": F.lit(k)}))
            valids.append(~cond)

        if "propertyNames" in s and isinstance(s["propertyNames"], (dict, bool)):
            bad = F.filter(keys, lambda k: ~safe(self._name_valid(s["propertyNames"], k)))
            key_summary(bad, "propertyNames", "property_name_mismatch", "property_names_mismatch")

        # Cost note (r3, measured at sf0.1 / 100k rows / 3 keys): the
        # per-key transforms below dominate dynamic-object validation
        # (~1.5s each standalone vs 3.2s full). Precomputing a per-object
        # key→type map (map_from_entries of schema_of_variant per entry)
        # is a measured DEAD END: 4 lookups/key cost 0.69s vs 0.57s for
        # re-running schema_of_variant 4x — repeated typing is only
        # ~0.15s of the total. The remaining cost is per-key violation
        # construction inside interpreted HOF lambdas, intrinsic until
        # Spark codegens higher-order functions.
        pats = (
            list(s["patternProperties"].items())
            if isinstance(s.get("patternProperties"), dict)
            else []
        )
        if pats:
            pp_bad: Column | None = None
            for pat, branch in pats:
                matching = self._maybe_stage(F.filter(keys, lambda k: safe(k.rlike(pat))), val)
                # ONE evaluation per key: the staged per-key violations
                # array feeds the leafs AND the bad-key derivation
                pv = self._maybe_stage(
                    F.transform(matching, self._kv_violations(branch, m, path, depth)), val
                )
                parts.append(F.when(obj, F.flatten(pv)).otherwise(empty_violations()))
                bad_k = F.filter(
                    F.zip_with(matching, pv, lambda k, a: F.when(F.size(a) > 0, k)),
                    lambda x: x.isNotNull(),
                )
                pp_bad = bad_k if pp_bad is None else F.concat(pp_bad, bad_k)
            key_summary(
                F.array_distinct(pp_bad), "patternProperties",
                "pattern_property_mismatch", "pattern_properties_mismatch",
            )

        def extra_keys(branch: Any, extra: Column, keyword: str, code_single: str, code_plural: str) -> None:
            """Apply a subschema (or False) to dynamically-enumerated extra
            keys: per-key leaf violations at the child path + ONE
            singular/plural summary (scalar-core emission shape)."""
            if branch is True or branch == {}:
                return
            extra = self._maybe_stage(extra, val)
            if branch is False:
                leafs = F.transform(
                    extra,
                    lambda k: mk_violation(
                        F.concat(path, F.lit("/"), _esc_key(k)), "schema", "false_schema_mismatch"
                    ),
                )
                parts.append(F.when(obj, leafs).otherwise(empty_violations()))
                bad = extra
            else:
                pv = self._maybe_stage(
                    F.transform(extra, self._kv_violations(branch, m, path, depth)), val
                )
                parts.append(F.when(obj, F.flatten(pv)).otherwise(empty_violations()))
                bad = F.filter(
                    F.zip_with(extra, pv, lambda k, a: F.when(F.size(a) > 0, k)),
                    lambda x: x.isNotNull(),
                )
            key_summary(bad, keyword, code_single, code_plural)

        if "additionalProperties" in s and isinstance(s["additionalProperties"], (dict, bool)):
            declared = list(s.get("properties", {}) or {})
            extra = F.filter(
                keys,
                lambda k: ~k.isin(*declared) if declared else F.lit(True),
            )
            for pat, _b in pats:
                extra = F.filter(extra, lambda k: ~safe(k.rlike(pat)))
            extra_keys(
                s["additionalProperties"], extra, "additionalProperties",
                "additional_property_mismatch", "additional_properties_mismatch",
            )

        if "unevaluatedProperties" in s and isinstance(s["unevaluatedProperties"], (dict, bool)):
            sources = self._claims(s, val, depth, "Properties")
            if not self._evaluates_all(sources):

                def unclaimed(k: Column) -> Column:
                    claimed = F.lit(False)
                    for gate, c in sources:
                        cp = F.lit(c.every)
                        if c.names:
                            cp = cp | k.isin(*sorted(set(c.names)))
                        for pat in c.patterns:
                            cp = cp | safe(k.rlike(pat))
                        claimed = claimed | (cp if gate is None else (gate & cp))
                    return ~safe(claimed)

                extra_keys(
                    s["unevaluatedProperties"], F.filter(keys, unclaimed), "unevaluatedProperties",
                    "unevaluated_property_mismatch", "unevaluated_properties_mismatch",
                )

    def _kv_violations(self, branch, m: Column, path: Column, depth: int):
        """Per-key violations lambda (nested compiles are non-stageable)."""

        def fn(k: Column) -> Column:
            child = Val(F.element_at(m, k), F.concat(path, F.lit("/"), _esc_key(k)), in_lambda=True)
            return self._compile(branch, child, depth + 1).violations

        return fn

    def _name_valid(self, sub: Any, k: Column) -> Column:
        """propertyNames subschema as a predicate over the key string."""
        if sub is True or sub == {}:
            return F.lit(True)
        if sub is False:
            return F.lit(False)
        ok = F.lit(True)
        t = sub.get("type")
        if t is not None and t != "string" and t != ["string"]:
            # keys are always strings; any other required type never matches
            ok = ok & F.lit("string" in t if isinstance(t, list) else False)
        if isinstance(sub.get("pattern"), str):
            ok = ok & safe(k.rlike(sub["pattern"]))
        if "minLength" in sub:
            ok = ok & (F.length(k) >= int(sub["minLength"]))
        if "maxLength" in sub:
            ok = ok & (F.length(k) <= int(sub["maxLength"]))
        if isinstance(sub.get("enum"), list):
            opts = [x for x in sub["enum"] if isinstance(x, str)]
            ok = ok & (k.isin(*opts) if opts else F.lit(False))
        if "const" in sub:
            ok = ok & (k == F.lit(sub["const"]) if isinstance(sub["const"], str) else F.lit(False))
        if isinstance(sub.get("format"), str) and self.assert_format:
            rx = SPARK_REGEX_FORMATS.get(sub["format"])
            if rx is not None:
                ok = ok & safe(k.rlike(rx))
        return ok

    # ----------------------------------------------------------------- arrays

    def _array_kw(self, s: dict, val: Val, parts, valids, present: Column, depth: int) -> None:
        path = val.path
        is_arr = val.dtype.startswith("ARRAY")
        arr = F.try_variant_get(val.col, "$", "array<variant>")
        n = F.size(arr)
        gate = safe(present & is_arr)

        def add(cond: Column, keyword: str, code: str, params: dict[str, Column] | None = None) -> None:
            cond = present & is_arr & safe(cond)
            parts.append(cond_violation(cond, path, keyword, code, params))
            valids.append(~cond)

        if "minItems" in s:
            add(n < int(s["minItems"]), "minItems", "items_too_short",
                {"min_items": F.lit(int(s["minItems"]))})
        if "maxItems" in s:
            add(n > int(s["maxItems"]), "maxItems", "items_too_long",
                {"max_items": F.lit(int(s["maxItems"]))})
        if s.get("uniqueItems") is True:
            canon = F.transform(arr, lambda x: F.to_json(x))
            # index groups of equal elements, first-occurrence order, as the
            # scalar core prints them: "(0, 2); (1, 3)"
            groups = F.filter(
                F.transform(
                    F.array_distinct(canon),
                    lambda u: F.filter(F.sequence(F.lit(0), n - 1), lambda i: F.element_at(canon, i + 1) == u),
                ),
                lambda g: F.size(g) > 1,
            )
            dups = F.array_join(
                F.transform(groups, lambda g: F.concat(F.lit("("), F.array_join(g.cast("array<string>"), ", "), F.lit(")"))),
                "; ",
            )
            add(F.size(F.array_distinct(canon)) != n, "uniqueItems", "unique_items_mismatch",
                {"duplicates": dups})

        prefix = s.get("prefixItems") if isinstance(s.get("prefixItems"), list) else []
        pi_conds = []
        for i, sub in enumerate(prefix):
            child = Val(F.try_variant_get(val.col, f"$[{i}]", "variant"), F.concat(path, F.lit(f"/{i}")),
                        in_lambda=val.in_lambda)
            node = self._compile(sub, child, depth + 1)
            applies = present & is_arr & (n > i)
            gated_invalid = applies & safe(~node.valid)
            parts.append(F.when(applies, node.violations).otherwise(empty_violations()))
            valids.append(~gated_invalid)
            pi_conds.append((gated_invalid, i))
        parts.append(
            summary_violation(
                pi_conds, path, "prefixItems",
                "prefix_item_mismatch", "prefix_items_mismatch",
                param_single="index", param_plural="indexs", sort_plural=False,
            )
        )

        def elem(x: Column, i: Column) -> Val:
            return Val(x, F.concat(path, F.lit("/"), i.cast("string")), in_lambda=True)

        if "items" in s and isinstance(s["items"], (dict, bool)):
            # per-element recursion via transform + flatten; ONE evaluation
            # per element (staged): leafs + the item(s)_mismatch summary
            def elem_violations(x: Column, i: Column) -> Column:
                viols = self._compile(s["items"], elem(x, i), depth + 1).violations
                return F.when(i >= len(prefix), viols).otherwise(empty_violations()) if prefix else viols

            pev = self._maybe_stage(F.transform(arr, elem_violations), val)
            element_summary(gate, pev, path, "items", "item_mismatch", "items_mismatch", parts, valids)

        if "contains" in s and isinstance(s["contains"], (dict, bool)):
            def elem_valid(x: Column) -> Column:
                return self._compile(s["contains"], Val(x, F.lit(""), in_lambda=True), depth + 1).valid

            n_match = F.size(F.filter(arr, elem_valid))
            min_c = int(s.get("minContains", 1))
            max_c = s.get("maxContains")
            if min_c > 0:
                add(n_match < min_c, "contains", "contains_too_few_items",
                    {"min_contains": F.lit(min_c)})
            if max_c is not None:
                add(n_match > int(max_c), "maxContains", "contains_too_many_items",
                    {"max_contains": F.lit(int(max_c))})

        if "unevaluatedItems" in s and isinstance(s["unevaluatedItems"], (dict, bool)):
            branch = s["unevaluatedItems"]
            sources = self._claims(s, val, depth, "Items")
            if branch is not True and branch != {} and not self._evaluates_all(sources):

                def uneval_viol(x: Column, i: Column) -> Column:
                    x_val = elem(x, i)
                    evaluated = self._item_claimed(sources, x_val, i, depth)
                    return F.when(x.isNotNull() & ~safe(evaluated),
                                  self._compile(branch, x_val, depth + 1).violations
                                  ).otherwise(empty_violations())

                pev = self._maybe_stage(F.transform(arr, uneval_viol), val)
                element_summary(
                    gate, pev, path, "unevaluatedItems",
                    "unevaluated_item_mismatch", "unevaluated_items_mismatch", parts, valids,
                )


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
    import json as _json

    key = (
        df.sparkSession.sparkContext.applicationId,
        _json.dumps(schema, sort_keys=True, default=str),
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
