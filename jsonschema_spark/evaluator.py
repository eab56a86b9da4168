"""Clean-room JSON Schema Draft 2020-12 evaluator (scalar core).

This is the engine's *semantic reference core*: it defines keyword semantics
once, is exercised against the official JSON-Schema-Test-Suite, and serves as
the Arrow-batched pandas-UDF residue for dynamic JSON columns. The scale path
(fixed typed schemas) compiles to pure Spark Column expressions in
``jsonschema_spark.plans`` and is tested for agreement with this core.

Error codes/params mirror the reference validator's catalog
(reference: i18n/locales/en.json; result.go EvaluationError). Exact-number
semantics via fractions.Fraction (reference: rat.go big.Rat).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from fractions import Fraction
from typing import Any

from jsonschema_spark import formats as _formats
from jsonschema_spark.errors import render_message
from jsonschema_spark.json_values import (
    fmt_num,
    json_equal,
    json_hash_key,
    json_type,
)
from jsonschema_spark.registry import Registry

__all__ = ["EvaluationResult", "Violation", "Evaluator"]

_MAX_DEPTH = 1024


def _ptr(path: str, token: str | int) -> str:
    if isinstance(token, int):
        return f"{path}/{token}"
    return f"{path}/" + token.replace("~", "~0").replace("/", "~1")


def _kptr(kp: str, *tokens: str | int) -> str:
    """Extend a keyword-location (schema-side evaluation path) by tokens."""
    for t in tokens:
        kp = _ptr(kp, t)
    return kp


def _received(v: Any) -> str:
    t = json_type(v)
    if t in ("string", "integer", "number", "boolean"):
        return fmt_num(v) if t != "string" else v
    return t


@dataclass
class Violation:
    instance_path: str
    keyword: str
    code: str
    params: dict[str, str] = field(default_factory=dict)
    # dynamic evaluation path on the SCHEMA side (official output-format
    # `keywordLocation`): "/properties/a/type", "/allOf/1/minimum", ...
    keyword_location: str = ""

    def message(self, locale: str = "en") -> str:
        return render_message(self.code, self.params, locale)


@dataclass
class _Res:
    """Internal per-(schema, instance-location) evaluation outcome."""

    valid: bool = True
    evaluated_props: set[str] = field(default_factory=set)
    evaluated_items: set[int] = field(default_factory=set)
    violations: list[Violation] = field(default_factory=list)
    # keyword-location prefix of the schema being evaluated (dynamic
    # evaluation path, including applicator/$ref segments)
    kp: str = ""

    def fail(self, path: str, keyword: str, code: str, **params: Any) -> None:
        self.valid = False
        # false-schema failures have no keyword of their own: the location
        # IS the (boolean) schema's own evaluation path
        kloc = self.kp if keyword == "schema" else f"{self.kp}/{keyword}"
        self.violations.append(
            Violation(path, keyword, code, {k: str(v) for k, v in params.items()}, kloc)
        )

    def merge_annotations(self, other: "_Res") -> None:
        self.evaluated_props |= other.evaluated_props
        self.evaluated_items |= other.evaluated_items


class EvaluationResult:
    """Public result: flag + flat violation list (reference: result.go ToFlag /
    LocalizedDetailedErrors; we standardize on the flat list form)."""

    def __init__(self, valid: bool, violations: list[Violation]):
        self.valid = valid
        self.violations = violations

    def is_valid(self) -> bool:
        return self.valid

    def to_flag(self) -> dict[str, bool]:
        return {"valid": self.valid}

    def to_list(self, locale: str = "en") -> list[dict[str, Any]]:
        return [
            {
                "instance_path": v.instance_path,
                "keyword": v.keyword,
                "code": v.code,
                "params": dict(v.params),
                "message": v.message(locale),
            }
            for v in sorted(self.violations, key=lambda v: (v.instance_path, v.keyword, v.code))
        ]

    def to_basic(self, locale: str = "en") -> dict[str, Any]:
        """Official 2020-12 "basic" output format (one flat outputUnit;
        spec §12.4.2): valid / keywordLocation / instanceLocation at the
        root plus an `errors` array of leaf outputUnits. Replayed against
        the vendored JSON-Schema-Test-Suite output-tests goldens in
        tests/test_output_goldens.py. Documented divergences: annotations
        are not collected (violations-only engine — reference result.go
        exposes errors the same way), and absoluteKeywordLocation is
        omitted (this engine reports the dynamic evaluation path only)."""
        out: dict[str, Any] = {
            "valid": self.valid,
            "keywordLocation": "",
            "instanceLocation": "",
        }
        if not self.valid:
            out["errors"] = [
                {
                    "valid": False,
                    "keywordLocation": v.keyword_location,
                    "instanceLocation": v.instance_path,
                    "error": v.message(locale),
                }
                for v in sorted(
                    self.violations,
                    key=lambda v: (v.instance_path, v.keyword_location, v.code),
                )
            ]
        return out


class _Ctx:
    __slots__ = (
        "registry", "assert_format", "no_validation", "scope_bases", "depth",
        "regex_cache", "assert_content", "decoders", "media_types",
    )

    def __init__(
        self,
        registry: Registry,
        assert_format: bool,
        no_validation: bool,
        assert_content: bool = False,
        decoders: dict | None = None,
        media_types: dict | None = None,
    ):
        self.registry = registry
        self.assert_format = assert_format
        self.no_validation = no_validation
        self.assert_content = assert_content
        self.decoders = decoders if decoders is not None else default_decoders()
        self.media_types = media_types if media_types is not None else default_media_types()
        self.scope_bases: list[str] = []
        self.depth = 0
        self.regex_cache: dict[str, re.Pattern[str] | None] = {}

    def compile_regex(self, pattern: str) -> re.Pattern[str] | None:
        if pattern not in self.regex_cache:
            try:
                self.regex_cache[pattern] = re.compile(pattern)
            except re.error:
                self.regex_cache[pattern] = None
        return self.regex_cache[pattern]


def default_decoders() -> dict:
    """contentEncoding decoders (reference: compiler.go Decoders, base64
    registered by default; strict alphabet like Go's base64.StdEncoding)."""
    import base64

    return {"base64": lambda s: base64.b64decode(s, validate=True)}


def _xml_to_value(elem) -> dict:
    """Deterministic dict model of an XML element tree (tag/attributes/text/
    children) so contentSchema can address parsed XML. The reference's
    handler (compiler.go:379-385) unmarshals into `any` via encoding/xml —
    here the shape is explicit rather than Go-reflection-defined; the
    ASSERTION semantics (well-formed parses, malformed fails with
    invalid_media_type) match."""
    return {
        "tag": elem.tag,
        "attributes": dict(elem.attrib),
        "text": (elem.text or "").strip() or None,
        "children": [_xml_to_value(c) for c in elem],
    }


def default_media_types() -> dict:
    """contentMediaType unmarshallers (reference: compiler.go
    setupMediaTypes — application/json, application/xml, application/yaml;
    exact-number decoding for json/yaml)."""
    import xml.etree.ElementTree as _ET

    from jsonschema_spark import yaml_lite
    from jsonschema_spark.json_values import loads_exact

    def _xml(b):
        return _xml_to_value(_ET.fromstring(b.decode("utf-8") if isinstance(b, bytes) else b))

    return {
        "application/json": lambda b: loads_exact(b),
        "application/xml": _xml,
        "application/yaml": yaml_lite.loads,
    }


def _is_number(v: Any) -> bool:
    return isinstance(v, (int, float, Fraction)) and not isinstance(v, bool)


def _int_kw(v: Any) -> int | None:
    """Keyword value as a non-negative count: ints and integral decimals
    both count (suite: 'maxLength validation with a decimal')."""
    if isinstance(v, bool):
        return None
    if isinstance(v, int):
        return v
    if isinstance(v, Fraction) and v.denominator == 1:
        return int(v)
    if isinstance(v, float) and v.is_integer():
        return int(v)
    return None


def _as_fraction(v: Any) -> Fraction:
    return v if isinstance(v, Fraction) else Fraction(v)


def _type_matches(declared: str, v: Any) -> bool:
    actual = json_type(v)
    if declared == actual:
        return True
    if declared == "number" and actual == "integer":
        return True
    if declared == "integer" and actual == "number":
        return False
    return False


class Evaluator:
    """Evaluates one compiled schema against instances (exact-value model)."""

    def __init__(
        self,
        schema: Any,
        registry: Registry | None = None,
        *,
        assert_format: bool = False,
        no_validation: bool = False,
        assert_content: bool = False,
        decoders: dict | None = None,
        media_types: dict | None = None,
        base_uri: str = "",
    ) -> None:
        self.schema = schema
        self.registry = registry or Registry()
        if registry is None:
            self.registry.register(schema, base_uri)
        self.assert_format = assert_format
        self.no_validation = no_validation
        self.assert_content = assert_content
        self.decoders = decoders
        self.media_types = media_types

    # ------------------------------------------------------------------ public

    def validate(self, instance: Any) -> EvaluationResult:
        ctx = _Ctx(
            self.registry, self.assert_format, self.no_validation,
            self.assert_content, self.decoders, self.media_types,
        )
        res = self._eval(self.schema, instance, "", ctx)
        return EvaluationResult(res.valid, res.violations)

    # ---------------------------------------------------------------- internal

    def _eval(self, schema: Any, instance: Any, path: str, ctx: _Ctx, kp: str = "") -> _Res:
        res = _Res(kp=kp)
        if schema is True:
            return res
        if schema is False:
            res.fail(path, "schema", "false_schema_mismatch")
            return res
        if not isinstance(schema, dict):
            return res
        ctx.depth += 1
        if ctx.depth > _MAX_DEPTH:
            ctx.depth -= 1
            res.fail(path, "$ref", "ref_mismatch")
            return res

        base = ctx.registry.base_of(schema)
        pushed = False
        if not ctx.scope_bases or ctx.scope_bases[-1] != base:
            ctx.scope_bases.append(base)
            pushed = True
        try:
            self._eval_keywords(schema, instance, path, ctx, res)
        finally:
            if pushed:
                ctx.scope_bases.pop()
            ctx.depth -= 1
        return res

    def _eval_keywords(self, s: dict, v: Any, path: str, ctx: _Ctx, res: _Res) -> None:
        # --- references (in-place applicators) -----------------------------
        if "$ref" in s and isinstance(s["$ref"], str):
            target, _ = ctx.registry.resolve_ref(s["$ref"], s, "")
            sub = self._eval(target, v, path, ctx, _kptr(res.kp, "$ref"))
            if sub.valid:
                res.merge_annotations(sub)
            else:
                res.valid = False
                res.violations.extend(sub.violations)
                res.fail(path, "$ref", "ref_mismatch")
        if "$dynamicRef" in s and isinstance(s["$dynamicRef"], str):
            target = ctx.registry.resolve_dynamic(s["$dynamicRef"], s, ctx.scope_bases)
            sub = self._eval(target, v, path, ctx, _kptr(res.kp, "$dynamicRef"))
            if sub.valid:
                res.merge_annotations(sub)
            else:
                res.valid = False
                res.violations.extend(sub.violations)
                res.fail(path, "$dynamicRef", "dynamic_ref_mismatch")

        if not ctx.no_validation:
            self._eval_assertions(s, v, path, ctx, res)
            if ctx.assert_content and isinstance(v, str):
                self._eval_content(s, v, path, ctx, res)

        # --- logical applicators -------------------------------------------
        if "allOf" in s and isinstance(s["allOf"], list):
            bad: list[int] = []
            for i, branch in enumerate(s["allOf"]):
                sub = self._eval(branch, v, path, ctx, _kptr(res.kp, "allOf", i))
                if sub.valid:
                    res.merge_annotations(sub)
                else:
                    bad.append(i)
                    res.violations.extend(sub.violations)
            if bad:
                res.fail(path, "allOf", "all_of_item_mismatch", indexs=", ".join(map(str, bad)))
        if "anyOf" in s and isinstance(s["anyOf"], list):
            passing = []
            for i, branch in enumerate(s["anyOf"]):
                sub = self._eval(branch, v, path, ctx, _kptr(res.kp, "anyOf", i))
                if sub.valid:
                    passing.append(sub)
            if passing:
                for sub in passing:
                    res.merge_annotations(sub)
            else:
                res.fail(path, "anyOf", "any_of_item_mismatch")
        if "oneOf" in s and isinstance(s["oneOf"], list):
            matches = []
            subs = []
            for i, branch in enumerate(s["oneOf"]):
                sub = self._eval(branch, v, path, ctx, _kptr(res.kp, "oneOf", i))
                subs.append(sub)
                if sub.valid:
                    matches.append(i)
            if len(matches) == 1:
                res.merge_annotations(subs[matches[0]])
            elif not matches:
                res.fail(path, "oneOf", "one_of_item_mismatch")
            else:
                res.fail(
                    path, "oneOf", "one_of_multiple_matches", matches=", ".join(map(str, matches))
                )
        if "not" in s:
            sub = self._eval(s["not"], v, path, ctx, _kptr(res.kp, "not"))
            if sub.valid:
                res.fail(path, "not", "not_schema_mismatch")

        # --- conditionals ----------------------------------------------------
        if "if" in s:
            cond = self._eval(s["if"], v, path, ctx, _kptr(res.kp, "if"))
            if cond.valid:
                res.merge_annotations(cond)
                if "then" in s:
                    sub = self._eval(s["then"], v, path, ctx, _kptr(res.kp, "then"))
                    if sub.valid:
                        res.merge_annotations(sub)
                    else:
                        res.valid = False
                        res.violations.extend(sub.violations)
                        res.fail(path, "then", "if_then_mismatch")
            else:
                if "else" in s:
                    sub = self._eval(s["else"], v, path, ctx, _kptr(res.kp, "else"))
                    if sub.valid:
                        res.merge_annotations(sub)
                    else:
                        res.valid = False
                        res.violations.extend(sub.violations)
                        res.fail(path, "else", "if_else_mismatch")
        if "dependentSchemas" in s and isinstance(s["dependentSchemas"], dict) and isinstance(v, dict):
            bad_props = []
            for prop, branch in s["dependentSchemas"].items():
                if prop in v:
                    sub = self._eval(branch, v, path, ctx, _kptr(res.kp, "dependentSchemas", prop))
                    if sub.valid:
                        res.merge_annotations(sub)
                    else:
                        bad_props.append(prop)
                        res.violations.extend(sub.violations)
            if len(bad_props) == 1:
                res.fail(path, "dependentSchemas", "dependent_schema_mismatch", property=bad_props[0])
            elif bad_props:
                res.fail(
                    path,
                    "dependentSchemas",
                    "dependent_schemas_mismatch",
                    properties=", ".join(sorted(bad_props)),
                )
        # legacy draft-07 "dependencies" (split semantics; reference: dialect.go)
        if "dependencies" in s and isinstance(s["dependencies"], dict) and isinstance(v, dict):
            for prop, dep in s["dependencies"].items():
                if prop not in v:
                    continue
                if isinstance(dep, list):
                    missing = [p for p in dep if p not in v]
                    if missing:
                        res.fail(
                            path,
                            "dependencies",
                            "dependent_property_required",
                            missing_properties=", ".join(missing),
                        )
                else:
                    sub = self._eval(dep, v, path, ctx, _kptr(res.kp, "dependencies", prop))
                    if sub.valid:
                        res.merge_annotations(sub)
                    else:
                        res.valid = False
                        res.violations.extend(sub.violations)
                        res.fail(path, "dependencies", "dependent_schema_mismatch", property=prop)

        # --- structural applicators -----------------------------------------
        if isinstance(v, list):
            self._eval_array(s, v, path, ctx, res)
        if isinstance(v, dict):
            self._eval_object(s, v, path, ctx, res)

        # --- unevaluated* (must run last; consume annotations) ---------------
        if "unevaluatedItems" in s and isinstance(v, list):
            bad = []
            for i, item in enumerate(v):
                if i in res.evaluated_items:
                    continue
                sub = self._eval(s["unevaluatedItems"], item, _ptr(path, i), ctx, _kptr(res.kp, "unevaluatedItems"))
                res.evaluated_items.add(i)
                if not sub.valid:
                    bad.append(i)
                    res.violations.extend(sub.violations)
            if len(bad) == 1:
                res.fail(path, "unevaluatedItems", "unevaluated_item_mismatch", index=bad[0])
            elif bad:
                res.fail(
                    path,
                    "unevaluatedItems",
                    "unevaluated_items_mismatch",
                    indexs=", ".join(map(str, bad)),
                )
        if "unevaluatedProperties" in s and isinstance(v, dict):
            bad_props = []
            for k, item in v.items():
                if k in res.evaluated_props:
                    continue
                sub = self._eval(s["unevaluatedProperties"], item, _ptr(path, k), ctx, _kptr(res.kp, "unevaluatedProperties"))
                res.evaluated_props.add(k)
                if not sub.valid:
                    bad_props.append(k)
                    res.violations.extend(sub.violations)
            if len(bad_props) == 1:
                res.fail(
                    path,
                    "unevaluatedProperties",
                    "unevaluated_property_mismatch",
                    property=bad_props[0],
                )
            elif bad_props:
                res.fail(
                    path,
                    "unevaluatedProperties",
                    "unevaluated_properties_mismatch",
                    properties=", ".join(sorted(bad_props)),
                )

    # ---------------------------------------------------------------- content

    def _eval_content(self, s: dict, v: str, path: str, ctx: _Ctx, res: _Res) -> None:
        """contentEncoding / contentMediaType / contentSchema as ASSERTIONS
        (2020-12 treats them as annotations; this runs only under
        assert_content — reference: content.go evaluateContent, which the
        reference applies by default and excludes the affected suite cases)."""
        enc = s.get("contentEncoding")
        content: bytes
        if isinstance(enc, str):
            dec = ctx.decoders.get(enc)
            if dec is None:
                res.fail(path, "contentEncoding", "unsupported_encoding", encoding=enc)
                return
            try:
                content = dec(v)
            except Exception as exc:
                res.fail(path, "contentEncoding", "invalid_encoding", encoding=enc, error=str(exc))
                return
        else:
            content = v.encode("utf-8")

        mt = s.get("contentMediaType")
        parsed: Any = content
        decoded = False
        if isinstance(mt, str):
            um = ctx.media_types.get(mt)
            if um is None:
                res.fail(path, "contentMediaType", "unsupported_media_type", media_type=mt)
                return
            try:
                parsed = um(content)
            except Exception as exc:
                res.fail(
                    path, "contentMediaType", "invalid_media_type", media_type=mt, error=str(exc)
                )
                return
            decoded = True

        if "contentSchema" in s and decoded:
            sub = self._eval(s["contentSchema"], parsed, path, ctx, _kptr(res.kp, "contentSchema"))
            if not sub.valid:
                res.violations.extend(sub.violations)
                res.fail(path, "contentSchema", "content_schema_mismatch")

    # ------------------------------------------------------------- assertions

    def _eval_assertions(self, s: dict, v: Any, path: str, ctx: _Ctx, res: _Res) -> None:
        if "type" in s:
            declared = s["type"]
            types = declared if isinstance(declared, list) else [declared]
            ok = any(_type_matches(t, v) for t in types if isinstance(t, str))
            if (
                ok
                and s.get("x-d4-strict-integer") is True
                and isinstance(v, Fraction)
                and "number" not in types
            ):
                # draft-04 lexical integers: a float-written 1.0 parses as
                # Fraction (ints stay int in loads_exact) and is NOT an
                # integer in draft-04 (suite draft4/type.json)
                ok = False
            if not ok:
                res.fail(
                    path,
                    "type",
                    "type_mismatch",
                    received=json_type(v),
                    expected=", ".join(map(str, types)),
                )
        if "enum" in s and isinstance(s["enum"], list):
            if not any(json_equal(v, allowed) for allowed in s["enum"]):
                res.fail(
                    path,
                    "enum",
                    "value_not_in_enum",
                    received=_received(v),
                    expected=", ".join(fmt_num(x) if not isinstance(x, str) else x for x in s["enum"]),
                )
        if "const" in s:
            if not json_equal(v, s["const"]):
                if s["const"] is None:
                    res.fail(path, "const", "const_mismatch_null")
                else:
                    res.fail(path, "const", "const_mismatch")

        if _is_number(v):
            f = _as_fraction(v)
            if "minimum" in s and _is_number(s["minimum"]) and f < _as_fraction(s["minimum"]):
                res.fail(path, "minimum", "value_below_minimum", value=fmt_num(v), minimum=fmt_num(s["minimum"]))
            if "maximum" in s and _is_number(s["maximum"]) and f > _as_fraction(s["maximum"]):
                res.fail(path, "maximum", "value_above_maximum", value=fmt_num(v), maximum=fmt_num(s["maximum"]))
            if "exclusiveMinimum" in s and _is_number(s["exclusiveMinimum"]) and f <= _as_fraction(s["exclusiveMinimum"]):
                res.fail(
                    path,
                    "exclusiveMinimum",
                    "exclusive_minimum_mismatch",
                    value=fmt_num(v),
                    exclusive_minimum=fmt_num(s["exclusiveMinimum"]),
                )
            if "exclusiveMaximum" in s and _is_number(s["exclusiveMaximum"]) and f >= _as_fraction(s["exclusiveMaximum"]):
                res.fail(
                    path,
                    "exclusiveMaximum",
                    "exclusive_maximum_mismatch",
                    value=fmt_num(v),
                    exclusive_maximum=fmt_num(s["exclusiveMaximum"]),
                )
            if "multipleOf" in s and _is_number(s["multipleOf"]):
                div = _as_fraction(s["multipleOf"])
                if div <= 0:
                    res.fail(path, "multipleOf", "invalid_multiple_of", multiple_of=fmt_num(s["multipleOf"]))
                elif (f / div).denominator != 1:
                    res.fail(path, "multipleOf", "not_multiple_of", multiple_of=fmt_num(s["multipleOf"]))

        if isinstance(v, str):
            min_len = _int_kw(s.get("minLength"))
            if min_len is not None and len(v) < min_len:
                res.fail(path, "minLength", "string_too_short", min_length=min_len, length=len(v))
            max_len = _int_kw(s.get("maxLength"))
            if max_len is not None and len(v) > max_len:
                res.fail(path, "maxLength", "string_too_long", max_length=max_len, length=len(v))
            if "pattern" in s and isinstance(s["pattern"], str):
                rx = ctx.compile_regex(s["pattern"])
                if rx is None:
                    res.fail(path, "pattern", "invalid_pattern", pattern=s["pattern"])
                elif rx.search(v) is None:
                    res.fail(path, "pattern", "pattern_mismatch", pattern=s["pattern"])
            if "format" in s and isinstance(s["format"], str) and ctx.assert_format:
                ok = _formats.check_format(s["format"], v)
                if ok is False:
                    res.fail(path, "format", "format_mismatch", format=s["format"])

    # ------------------------------------------------------------------ arrays

    def _eval_array(self, s: dict, v: list, path: str, ctx: _Ctx, res: _Res) -> None:
        n = len(v)
        if not ctx.no_validation:
            min_items = _int_kw(s.get("minItems"))
            if min_items is not None and n < min_items:
                res.fail(path, "minItems", "items_too_short", min_items=min_items)
            max_items = _int_kw(s.get("maxItems"))
            if max_items is not None and n > max_items:
                res.fail(path, "maxItems", "items_too_long", max_items=max_items)
            if s.get("uniqueItems") is True:
                groups: dict[Any, list[int]] = {}
                for i, item in enumerate(v):
                    groups.setdefault(json_hash_key(item), []).append(i)
                dups = [idxs for idxs in groups.values() if len(idxs) > 1]
                if dups:
                    res.fail(
                        path,
                        "uniqueItems",
                        "unique_items_mismatch",
                        duplicates="; ".join("(" + ", ".join(map(str, g)) + ")" for g in dups),
                    )

        prefix_len = 0
        if "prefixItems" in s and isinstance(s["prefixItems"], list):
            bad = []
            prefix_len = min(len(s["prefixItems"]), n)
            for i in range(prefix_len):
                sub = self._eval(s["prefixItems"][i], v[i], _ptr(path, i), ctx, _kptr(res.kp, "prefixItems", i))
                res.evaluated_items.add(i)
                if not sub.valid:
                    bad.append(i)
                    res.violations.extend(sub.violations)
            if len(bad) == 1:
                res.fail(path, "prefixItems", "prefix_item_mismatch", index=bad[0])
            elif bad:
                res.fail(path, "prefixItems", "prefix_items_mismatch", indexs=", ".join(map(str, bad)))

        if "items" in s and isinstance(s["items"], (dict, bool)):
            bad = []
            for i in range(prefix_len, n):
                sub = self._eval(s["items"], v[i], _ptr(path, i), ctx, _kptr(res.kp, "items"))
                res.evaluated_items.add(i)
                if not sub.valid:
                    bad.append(i)
                    res.violations.extend(sub.violations)
            if len(bad) == 1:
                res.fail(path, "items", "item_mismatch", index=bad[0])
            elif bad:
                res.fail(path, "items", "items_mismatch", indexs=", ".join(map(str, bad)))

        if "contains" in s:
            matched = []
            for i, item in enumerate(v):
                sub = self._eval(s["contains"], item, _ptr(path, i), ctx, _kptr(res.kp, "contains"))
                if sub.valid:
                    matched.append(i)
                    res.evaluated_items.add(i)
            if not ctx.no_validation:
                min_c = _int_kw(s.get("minContains", 1))
                max_c = _int_kw(s.get("maxContains"))
                if min_c is not None and len(matched) < min_c:
                    res.fail(path, "contains", "contains_too_few_items", min_contains=min_c)
                if max_c is not None and len(matched) > max_c:
                    res.fail(path, "maxContains", "contains_too_many_items", max_contains=max_c)

    # ----------------------------------------------------------------- objects

    def _eval_object(self, s: dict, v: dict, path: str, ctx: _Ctx, res: _Res) -> None:
        if not ctx.no_validation:
            if "required" in s and isinstance(s["required"], list):
                missing = [p for p in s["required"] if p not in v]
                if len(missing) == 1:
                    res.fail(path, "required", "missing_required_property", property=missing[0])
                elif missing:
                    res.fail(
                        path,
                        "required",
                        "missing_required_properties",
                        properties=", ".join(missing),
                    )
            if "dependentRequired" in s and isinstance(s["dependentRequired"], dict):
                missing = []
                for prop, deps in s["dependentRequired"].items():
                    if prop in v and isinstance(deps, list):
                        missing.extend(p for p in deps if p not in v)
                if missing:
                    res.fail(
                        path,
                        "dependentRequired",
                        "dependent_property_required",
                        missing_properties=", ".join(missing),
                    )
            min_props = _int_kw(s.get("minProperties"))
            if min_props is not None and len(v) < min_props:
                res.fail(path, "minProperties", "too_few_properties", min_properties=min_props)
            max_props = _int_kw(s.get("maxProperties"))
            if max_props is not None and len(v) > max_props:
                res.fail(path, "maxProperties", "too_many_properties", max_properties=max_props)

        claimed: set[str] = set()
        if "properties" in s and isinstance(s["properties"], dict):
            bad_props = []
            for prop, branch in s["properties"].items():
                if prop in v:
                    claimed.add(prop)
                    res.evaluated_props.add(prop)
                    sub = self._eval(branch, v[prop], _ptr(path, prop), ctx, _kptr(res.kp, "properties", prop))
                    if not sub.valid:
                        bad_props.append(prop)
                        res.violations.extend(sub.violations)
            if len(bad_props) == 1:
                res.fail(path, "properties", "property_mismatch", property=bad_props[0])
            elif bad_props:
                res.fail(
                    path, "properties", "properties_mismatch", properties=", ".join(sorted(bad_props))
                )

        if "patternProperties" in s and isinstance(s["patternProperties"], dict):
            bad_props = []
            for pattern, branch in s["patternProperties"].items():
                rx = ctx.compile_regex(pattern)
                if rx is None:
                    res.fail(path, "patternProperties", "invalid_pattern", pattern=pattern)
                    continue
                for prop in v:
                    if rx.search(prop) is not None:
                        claimed.add(prop)
                        res.evaluated_props.add(prop)
                        sub = self._eval(branch, v[prop], _ptr(path, prop), ctx, _kptr(res.kp, "patternProperties", pattern))
                        if not sub.valid:
                            bad_props.append(prop)
                            res.violations.extend(sub.violations)
            if len(bad_props) == 1:
                res.fail(path, "patternProperties", "pattern_property_mismatch", property=bad_props[0])
            elif bad_props:
                res.fail(
                    path,
                    "patternProperties",
                    "pattern_properties_mismatch",
                    properties=", ".join(sorted(set(bad_props))),
                )

        if "additionalProperties" in s:
            bad_props = []
            for prop in v:
                if prop in claimed:
                    continue
                res.evaluated_props.add(prop)
                sub = self._eval(s["additionalProperties"], v[prop], _ptr(path, prop), ctx, _kptr(res.kp, "additionalProperties"))
                if not sub.valid:
                    bad_props.append(prop)
                    res.violations.extend(sub.violations)
            if len(bad_props) == 1:
                res.fail(
                    path, "additionalProperties", "additional_property_mismatch", property=bad_props[0]
                )
            elif bad_props:
                res.fail(
                    path,
                    "additionalProperties",
                    "additional_properties_mismatch",
                    properties=", ".join(sorted(bad_props)),
                )

        if "propertyNames" in s:
            bad_props = []
            for prop in v:
                sub = self._eval(s["propertyNames"], prop, path, ctx, _kptr(res.kp, "propertyNames"))
                if not sub.valid:
                    bad_props.append(prop)
            if len(bad_props) == 1:
                res.fail(path, "propertyNames", "property_name_mismatch", property=bad_props[0])
            elif bad_props:
                res.fail(
                    path,
                    "propertyNames",
                    "property_names_mismatch",
                    properties=", ".join(sorted(bad_props)),
                )
