"""Shared planner core for the typed (``plans.columns``) and raw-JSON
(``plans.variant``) Column planners.

A planner compiles a JSON Schema once, on the driver, into two Columns per
subschema: a boolean ``valid`` and a ``violations`` array in the engine's
wire format. :class:`PlanCompiler` holds everything that does not depend on
how the value under validation is represented:

- the violation wire format and the scalar core's summary idioms (one
  singular/plural row per applicator, over static flags or a runtime list);
- staging of multiply-referenced subexpressions into their own projection;
- ``$ref`` / ``$dynamicRef`` with a statically tracked dynamic scope;
- the logical applicators (allOf, anyOf, oneOf, not, if/then/else,
  dependentSchemas);
- the value assertions (type, enum, const, the numeric bounds, multipleOf,
  minLength / maxLength / pattern / format), for a planner's values and for
  propertyNames keys alike;
- the array keywords, and the object keywords over runtime-enumerated keys
  (a typed ``MapType`` column, a raw-JSON object);
- the annotation-flow walk that decides which properties / items an
  ``unevaluated*`` keyword still sees.

Subclasses keep only their value model: how a value is typed
(:meth:`PlanCompiler._typed`); what the value assertions ask of it, which is
its JSON type family, its text, number and printed forms, the ``type``
check, member equality and the multiple-of predicate (the value hooks);
whether it has a property (:meth:`PlanCompiler._has`); how it is reached as
an array or a keyed object and how its children are (the collection hooks);
and keywords only it lowers (:meth:`PlanCompiler._compile_own`). Both
planners read SQL NULL as an absent value.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass, field
from decimal import Decimal
from fractions import Fraction
from functools import reduce
from itertools import count
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jsonschema_spark.formats import SPARK_REGEX_FORMATS
from jsonschema_spark.json_values import fmt_num
from jsonschema_spark.registry import Registry

__all__ = [
    "PlanCompiler",
    "VALUE_KEYWORDS",
    "VIOLATION_SCHEMA_DDL",
    "Node",
    "Val",
    "concat_violations",
    "cond_violation",
    "dec_scale",
    "divisor_fraction",
    "double_multiple",
    "element_summary",
    "empty_violations",
    "escape_token",
    "is_in",
    "joined_violation",
    "list_summary",
    "mk_violation",
    "num_lit",
    "num_text",
    "safe",
    "summary_violation",
]

VIOLATION_SCHEMA_DDL = (
    "array<struct<instance_path:string,keyword:string,code:string,params:map<string,string>>>"
)

_EMPTY_VIOLATIONS = f"CAST(array() AS {VIOLATION_SCHEMA_DDL})"

# process-global: compilers sharing one stages list (e.g. two contentSchema
# sites in one typed plan) must never collide on stage names — a caller
# attaching stages via a single select would silently miscompute otherwise
_STAGE_IDS = count()

# (keyword, code, param, violated) for the numeric bounds
_BOUNDS = (
    ("minimum", "value_below_minimum", "minimum", operator.lt),
    ("maximum", "value_above_maximum", "maximum", operator.gt),
    ("exclusiveMinimum", "exclusive_minimum_mismatch", "exclusive_minimum", operator.le),
    ("exclusiveMaximum", "exclusive_maximum_mismatch", "exclusive_maximum", operator.ge),
)

_STRING_KEYWORDS = ("minLength", "maxLength", "pattern", "format")

_NUMBER_KEYWORDS = ("multipleOf", *(b[0] for b in _BOUNDS))

VALUE_KEYWORDS = ("type", "enum", "const", *_NUMBER_KEYWORDS, *_STRING_KEYWORDS)

# propertyNames subschemas evaluate against the key STRING; only the value
# assertions are expressible as plain string-column predicates
_NAME_SCHEMA_KEYWORDS = {*VALUE_KEYWORDS, "title", "description", "$comment"}

# object keywords that need the key set enumerated at runtime
_KEYED_KEYWORDS = (
    "patternProperties", "additionalProperties", "propertyNames",
    "minProperties", "maxProperties", "unevaluatedProperties",
)


# ------------------------------------------------------------- wire format


def escape_token(tok: str) -> str:
    """JSON-pointer escaping of one path token."""
    return tok.replace("~", "~0").replace("/", "~1")


def _escape_key(k: Column) -> Column:
    """JSON-pointer token escaping for a runtime key column."""
    return F.replace(F.replace(k, F.lit("~"), F.lit("~0")), F.lit("/"), F.lit("~1"))


def num_text(num: Column, whole: Column) -> Column:
    """A number printed like json_values.fmt_num: an integral value without
    a fraction part ("3", never "3.0") from ``whole`` (the value as
    decimal(38,0), exact beyond 2^53), others in Spark's double form."""
    return F.when(
        num == F.floor(num), F.coalesce(whole.cast("string"), num.cast("string"))
    ).otherwise(num.cast("string"))


def empty_violations() -> Column:
    return F.expr(_EMPTY_VIOLATIONS)


def mk_violation(path: Column, keyword: str, code: str, params: dict[str, Column] | None = None) -> Column:
    if params:
        kv: list[Column] = []
        for k, v in params.items():
            kv.append(F.lit(k))
            kv.append(v.cast("string"))
        pmap = F.create_map(*kv)
    else:
        pmap = F.expr("CAST(map() AS map<string,string>)")
    return F.struct(
        path.cast("string").alias("instance_path"),
        F.lit(keyword).alias("keyword"),
        F.lit(code).alias("code"),
        pmap.alias("params"),
    )


def safe(cond: Column) -> Column:
    """Collapse SQL three-valued logic: NULL condition means 'not violated'."""
    return F.coalesce(cond, F.lit(False))


def _any(conds: list[Column]) -> Column:
    return reduce(operator.or_, conds) if conds else F.lit(False)


def cond_violation(cond: Column, *args: Any, **kwargs: Any) -> Column:
    """array with the violation when cond, else empty array."""
    return F.when(safe(cond), F.array(mk_violation(*args, **kwargs))).otherwise(empty_violations())


def concat_violations(parts: list[Column]) -> Column:
    parts = [p for p in parts if p is not None]
    if not parts:
        return empty_violations()
    if len(parts) == 1:
        return parts[0]
    return F.concat(*parts)


def divisor_fraction(div: Any) -> Fraction:
    """A multipleOf divisor as an exact rational: a float divisor stands for
    its decimal literal (the reference parses JSON text to exact rationals;
    Python repr round-trips the shortest decimal form)."""
    if isinstance(div, Fraction):
        return div
    return Fraction(Decimal(repr(div))) if isinstance(div, float) else Fraction(div)


def dec_scale(f: Fraction) -> int | None:
    """Smallest s with f*10^s integral, or None if f is non-terminating
    (denominator has a prime factor other than 2/5 — can't occur for
    divisors parsed from JSON text, which are terminating by construction)."""
    den = f.denominator
    s = 0
    for p in (2, 5):
        while den % p == 0:
            den //= p
    if den != 1:
        return None
    den = f.denominator
    while f.denominator > 1 and (f * 10**s).denominator > 1:
        s += 1
        if s > 38:
            return None
    return s


def double_multiple(x: Column, fdiv: Fraction) -> Column | None:
    """'double ``x`` is a multiple of ``fdiv``', or None when no double ever
    is one under decimal semantics (non-terminating or oversized divisor).

    JSON divisors are terminating decimals: x is a multiple of d (scale sd)
    iff w = x*10^sd is an integer and w % (d*10^sd) == 0 — pure double+long
    arithmetic, exact for |w| < 2^53 (reference keeps big.Rat; Spark has no
    arbitrary-precision rational — SURVEY §4.2.6; a 1e-9 relative guard
    absorbs the binary-vs-decimal ulp noise). Beyond 2^53 long arithmetic
    can't represent w: approximate pmod check (documented divergence)."""
    sd = dec_scale(fdiv)
    if sd is None or fdiv * 10**sd > 2**53:
        return None
    m = int(fdiv * 10**sd)
    w = x * F.lit(float(10**sd))
    wr = F.round(w, 0)
    small = F.abs(wr) < F.lit(float(2**53))
    exact = (F.abs(w - wr) <= F.lit(1e-9) * F.greatest(F.abs(w), F.lit(1.0))) & (
        wr.try_cast("bigint") % F.lit(m) == 0
    )
    approx = F.pmod(w, F.lit(float(m))) == 0.0
    return F.when(small, exact).otherwise(approx)


def num_lit(v: Any) -> Column:
    """A JSON number (or boolean) as a literal: integral values stay integral."""
    if isinstance(v, Fraction):
        return F.lit(int(v)) if v.denominator == 1 else F.lit(float(v))
    return F.lit(v)


def is_in(col: Column, lits: list[Column]) -> Column:
    """``col`` equals one of ``lits`` (at least one)."""
    return col == lits[0] if len(lits) == 1 else col.isin(*lits)


def _is_number(x: Any) -> bool:
    return isinstance(x, (int, float, Fraction)) and not isinstance(x, bool)


# --------------------------------------------------------- summary idioms


def summary_violation(
    conds_names: list[tuple[Column, Any]],
    path: Column,
    keyword: str,
    code_single: str,
    code_plural: str,
    *,
    param_single: str = "property",
    param_plural: str = "properties",
    sort_plural: bool = True,
    dedupe_plural: bool = False,
) -> Column:
    """ONE summary row per applicator keyword over static flags, mirroring
    the scalar core's singular/plural emission (evaluator.py `_eval_object`):
    code_single with the first failing name when exactly one sub-check fails,
    code_plural with the joined name list when several fail, nothing when
    none fail."""
    if not conds_names:
        return empty_violations()
    flags = [safe(c) for c, _ in conds_names]
    cnt = flags[0].cast("int")
    for fl in flags[1:]:
        cnt = cnt + fl.cast("int")
    whens = [F.when(fl, F.lit(str(n))) for fl, (_, n) in zip(flags, conds_names)]
    first = F.coalesce(*whens, F.lit("")) if len(whens) > 1 else F.coalesce(whens[0], F.lit(""))
    bad = F.filter(F.array(*whens), lambda x: x.isNotNull())
    if dedupe_plural:
        bad = F.array_distinct(bad)
    if sort_plural:
        bad = F.array_sort(bad)
    joined = F.array_join(bad, ", ")
    # cnt == 0 FIRST: CaseWhen evaluates conditions in order and interpreted
    # HOF bodies have no CSE, so on the common (all-valid) path the flag sum
    # evaluates ONCE instead of twice (cnt==1 then cnt>1) — measurable on
    # per-element object schemas where every flag re-runs its predicate
    return (
        F.when(cnt == 0, empty_violations())
        .when(cnt == 1, F.array(mk_violation(path, keyword, code_single, {param_single: first})))
        .otherwise(F.array(mk_violation(path, keyword, code_plural, {param_plural: joined})))
    )


def list_summary(
    gate: Column, bad: Column, path: Column, keyword: str,
    code_single: str, code_plural: str, *, indexes: bool = False,
) -> Column:
    """The singular/plural summary over a RUNTIME array of failing property
    names (sorted, like the scalar core) or element indexes (ascending
    already): nothing when ``gate`` is false or ``bad`` is empty."""
    if indexes:
        one = {"index": F.element_at(bad, 1)}
        many = {"indexs": F.array_join(F.transform(bad, lambda x: x.cast("string")), ", ")}
    else:
        one = {"property": F.element_at(bad, 1)}
        many = {"properties": F.array_join(F.array_sort(bad), ", ")}
    nbad = F.size(bad)
    return (
        F.when(safe(gate & (nbad == 1)), F.array(mk_violation(path, keyword, code_single, one)))
        .when(safe(gate & (nbad > 1)), F.array(mk_violation(path, keyword, code_plural, many)))
        .otherwise(empty_violations())
    )


def joined_violation(
    conds_names: list[tuple[Column, Any]], path: Column, keyword: str, code: str, param: str
) -> Column:
    """ONE row whenever any flag is set, with every flagged name joined in
    declaration order (allOf, dependentRequired in the scalar core)."""
    joined = F.concat_ws(", ", *[F.when(c, F.lit(str(n))) for c, n in conds_names])
    return cond_violation(safe(_any([c for c, _ in conds_names])), path, keyword, code, {param: joined})


def element_summary(
    gate: Column, pev: Column, path: Column, keyword: str,
    code_single: str, code_plural: str, parts: list, valids: list,
) -> None:
    """Leaf rows + index summary + validity from ``pev``, an array holding
    each element's violations array (items / unevaluatedItems)."""
    parts.append(F.when(gate, F.flatten(pev)).otherwise(empty_violations()))
    bad_idx = F.filter(
        F.transform(pev, lambda a, i: F.when(F.size(a) > 0, i)),
        lambda x: x.isNotNull(),
    )
    parts.append(list_summary(gate, bad_idx, path, keyword, code_single, code_plural, indexes=True))
    valids.append(safe(F.when(gate, F.size(F.flatten(pev)) == 0).otherwise(F.lit(True))) | ~gate)


# ------------------------------------------------------------------ model


@dataclass
class Val:
    """The value under validation: expression, JSON-pointer path column and
    the planner's type information (a Spark DataType on the typed path, the
    runtime type-name Column on the variant path)."""

    col: Column
    path: Column
    dtype: Any = None
    in_lambda: bool = False  # True inside a HOF lambda (not stageable)


@dataclass
class Node:
    """Compiled subschema: validity predicate + violation constructor."""

    valid: Column
    violations: Column


@dataclass
class Claim:
    """What one in-place subschema tree evaluates, for unevaluated*:
    property names / patterns, or a prefixItems length / contains schemas;
    ``every`` when an additional* / items / nested unevaluated* keyword
    evaluates everything left."""

    names: list = field(default_factory=list)
    patterns: list = field(default_factory=list)
    prefix: int = 0
    contains: list = field(default_factory=list)
    every: bool = False

    def __bool__(self) -> bool:
        return bool(self.names or self.patterns or self.prefix or self.contains or self.every)


class _StringKey:
    """The value hooks of :class:`PlanCompiler` for a propertyNames key."""

    def _is(self, val: Val, family: str) -> bool:
        return family == "string"

    def _text(self, val: Val) -> Column:
        return val.col

    _shown = _text

    def _type_check(self, val: Val, declared: list) -> tuple[Column | bool, Column] | None:
        return None if "string" in declared else (True, F.lit("string"))

    def _equals(self, val: Val, members: list) -> Column | bool:
        lits = [F.lit(m) for m in members if isinstance(m, str)]
        return is_in(val.col, lits) if lits else False


_KEY = _StringKey()


def _collect(sub: dict, claim: Claim, kind: str, root: bool) -> None:
    """Add the claims ``sub`` makes itself (kind "Properties" or "Items")."""
    if kind == "Properties":
        if isinstance(sub.get("properties"), dict):
            claim.names.extend(sub["properties"])
        if isinstance(sub.get("patternProperties"), dict):
            claim.patterns.extend(sub["patternProperties"])
        every = "additionalProperties" in sub
    else:
        if isinstance(sub.get("prefixItems"), list):
            claim.prefix = max(claim.prefix, len(sub["prefixItems"]))
        if isinstance(sub.get("contains"), (dict, bool)):
            claim.contains.append(sub["contains"])
        every = isinstance(sub.get("items"), (dict, bool))
    # a nested unevaluated* evaluates everything left in its scope; the
    # root's own is the keyword being compiled, not a claim source
    claim.every |= every or (not root and "unevaluated" + kind in sub)


# --------------------------------------------------------------- compiler


class PlanCompiler:
    """Base of the Column planners (see module docstring).

    Reference analogue: compiler.go Compile → schema tree; here the
    "physical plan" is a Column expression tree Catalyst owns. ``$ref`` is
    inlined at plan time (reference resolves refs at compile: ref.go
    resolveRef); compiling deeper than ``MAX_DEPTH`` raises ``error``."""

    # set by each planner: its compile-error type, its recursion bound and
    # the message raised past that bound
    error: type[ValueError]
    MAX_DEPTH: int
    depth_error: str

    def __init__(self, schema: Any, *, assert_format: bool = True) -> None:
        from jsonschema_spark.dialects import normalize_schema

        self.schema = normalize_schema(schema)  # legacy dialects via $schema
        self.assert_format = assert_format
        self.registry = Registry()
        self.registry.register(self.schema, "")
        self._stages: list[tuple[str, Column]] | None = None
        self._scope: list[str] = []  # static dynamic-scope base-URI stack

    # ----------------------------------------------------------- staging

    def _compile_root(self, val: Val, stages: list[tuple[str, Column]] | None) -> Node:
        """When ``stages`` is passed, expensive multiply-referenced
        subexpressions are appended to it as (name, Column) pairs the caller
        must attach (:meth:`attach_stages`) BEFORE the returned columns:
        their own projection keeps CollapseProject from re-inlining them —
        Catalyst does not CSE non-cheap exprs inside one projection
        (measured 3.4x on variant parse). Without ``stages`` the plan is
        still correct, just recomputes those subtrees."""
        self._stages, self._scope = stages, []
        try:
            return self._compile(self.schema, val, 0)
        finally:
            self._stages = None

    def _maybe_stage(self, col: Column, val: Val) -> Column:
        if self._stages is None or val.in_lambda:
            return col
        name = f"__jss_stage_{next(_STAGE_IDS)}"
        self._stages.append((name, col))
        return F.col(name)

    @staticmethod
    def attach_stages(df: DataFrame, stages: list[tuple[str, Column]]) -> DataFrame:
        """Attach staged columns in dependency LAYERS.

        A stage expression may reference earlier stage names, so they cannot
        all go in one projection — but one ``withColumns`` per layer (flushed
        only when a stage references a name in the current batch) keeps plan
        re-analysis linear in layer count. Per-stage ``withColumn`` re-analyzes
        the whole accumulated plan each time — measured ~10s of driver time
        on a 24-stage recursive variant unroll. The substring dependency check
        is conservative (a false positive only splits a layer)."""
        batch: dict[str, Column] = {}
        for name, col in stages:
            if batch and any(n in str(col) for n in batch):
                df = df.withColumns(batch)
                batch = {}
            batch[name] = col
        return df.withColumns(batch) if batch else df

    # ------------------------------------------------------------ compile

    def _compile(self, schema: Any, val: Val, depth: int) -> Node:
        if schema is True or schema == {}:
            return Node(F.lit(True), empty_violations())
        if schema is False:
            return self._false_node(val)
        if not isinstance(schema, dict):
            raise self.error(f"schema must be dict/bool, got {type(schema)}")
        if depth > self.MAX_DEPTH:
            raise self.error(self.depth_error)
        # static dynamic-scope tracking: because the whole plan inlines, the
        # dynamic scope at each compile point is exactly the chain of $id
        # resources entered so far (mirrors evaluator.py _eval scope stack)
        base = self.registry.base_of(schema)
        pushed = not self._scope or self._scope[-1] != base
        if pushed:
            self._scope.append(base)
        try:
            return self._compile_dict(schema, val, depth)
        finally:
            if pushed:
                self._scope.pop()

    def _compile_dict(self, s: dict, val: Val, depth: int) -> Node:
        parts: list[Column] = []
        valids: list[Column] = []
        for kw, code in (("$ref", "ref_mismatch"), ("$dynamicRef", "dynamic_ref_mismatch")):
            if isinstance(s.get(kw), str):
                sub = self._compile_ref(self._resolve(kw, s), val, depth + 1)
                parts.append(sub.violations)
                # the scalar core adds a mismatch summary on top of the
                # target's own violations (evaluator.py:235)
                parts.append(cond_violation(safe(~sub.valid), val.path, kw, code))
                valids.append(sub.valid)
        val = self._typed(val)
        present = val.col.isNotNull()
        add = self._adder(present, val.path, parts, valids)
        self._compile_assertions(s, val, self, add)
        self._compile_own(s, val, present, add, parts, valids, depth)
        self._compile_keyed(s, val, present, parts, valids, depth)
        self._compile_array(s, val, present, parts, valids, depth)
        self._compile_logical(s, val, present, parts, valids, depth)
        return self._node(present, parts, valids)

    def _resolve(self, kw: str, s: dict) -> Any:
        """Target of ``s[kw]`` ($ref, or $dynamicRef under the STATIC scope:
        the whole plan inlines, so the scope is known at every point)."""
        if kw == "$ref":
            return self.registry.resolve_ref(s[kw], s, "")[0]
        try:
            return self.registry.resolve_dynamic(s[kw], s, self._scope)
        except KeyError as exc:
            raise self.error(f"unresolvable $dynamicRef: {s[kw]!r}") from exc

    def _node(self, present: Column, parts: list[Column], valids: list[Column]) -> Node:
        if not parts:
            return Node(F.lit(True), empty_violations())
        valid = F.lit(True)
        for c in valids:
            valid = valid & c
        return Node(valid, concat_violations(parts))

    @staticmethod
    def _adder(gate: Column | bool, path: Column | None, parts: list | None, valids: list):
        """``add(cond, keyword, code, params)``: one violation row at ``path``
        when ``gate`` and ``cond`` (a Column or a plan-time True) hold. A
        predicate-only caller passes ``parts`` None and gets validity only."""

        def add(cond: Column | bool, keyword: str, code: str, params: dict[str, Column] | None = None) -> None:
            cond = F.lit(True) if cond is True else cond
            cond = safe(cond if gate is True else gate & cond)
            if parts is not None:
                parts.append(cond_violation(cond, path, keyword, code, params))
            valids.append(~cond)

        return add

    # ------------------------------------------------------- value assertions

    def _compile_assertions(self, s: dict, val: Val, model: Any, add) -> None:
        """The value assertions over ``val``; ``model`` answers the value
        hooks (the planner itself, or :data:`_KEY` for a propertyNames key).
        Each derived form is asked for only when a present keyword needs it."""
        if "type" in s:
            declared = s["type"] if isinstance(s["type"], list) else [s["type"]]
            mismatch = model._type_check(val, declared)
            if mismatch is not None:
                add(mismatch[0], "type", "type_mismatch",
                    {"received": mismatch[1], "expected": F.lit(", ".join(map(str, declared)))})

        if isinstance(s.get("enum"), list):
            ok = model._equals(val, s["enum"])
            expected = ", ".join(x if isinstance(x, str) else fmt_num(x) for x in s["enum"])
            add(True if ok is False else ~ok, "enum", "value_not_in_enum",
                {"received": model._shown(val).cast("string"), "expected": F.lit(expected)})

        if "const" in s:
            ok = model._equals(val, [s["const"]])
            add(True if ok is False else ~ok, "const",
                "const_mismatch_null" if s["const"] is None else "const_mismatch")

        # each family's keywords need its test only to be skipped at plan
        # time or to gate invalid_multiple_of: text and number are NULL on a
        # value of another type, so their checks pass there
        is_num = any(_is_number(s.get(kw)) for kw in _NUMBER_KEYWORDS) and model._is(val, "number")
        if is_num is not False:
            for kw, code, pkey, violated in _BOUNDS:
                if _is_number(s.get(kw)):
                    add(violated(model._number(val), num_lit(s[kw])), kw, code,
                        {"value": model._shown(val), pkey: F.lit(fmt_num(s[kw]))})
            if _is_number(s.get("multipleOf")):
                div = s["multipleOf"]
                fdiv = divisor_fraction(div)
                is_mult = model._multiple(val, fdiv) if fdiv > 0 else None
                add(is_num if is_mult is None else ~is_mult, "multipleOf",
                    "not_multiple_of" if fdiv > 0 else "invalid_multiple_of", {"multiple_of": F.lit(fmt_num(div))})

        is_str = any(kw in s for kw in _STRING_KEYWORDS) and model._is(val, "string")
        if is_str is not False:
            for kw, code, pkey, violated in (
                ("minLength", "string_too_short", "min_length", operator.lt),
                ("maxLength", "string_too_long", "max_length", operator.gt),
            ):
                if kw in s:
                    n = int(s[kw])
                    length = F.length(model._text(val))
                    add(violated(length, n), kw, code, {pkey: F.lit(n), "length": length})
            if isinstance(s.get("pattern"), str):
                # Java regex via rlike; the compiler validated its syntax
                add(~model._text(val).rlike(s["pattern"]), "pattern", "pattern_mismatch",
                    {"pattern": F.lit(s["pattern"])})
            if isinstance(s.get("format"), str) and self.assert_format:
                # non-regex formats are UDF residue (functions.udf)
                rx = SPARK_REGEX_FORMATS.get(s["format"])
                if rx is not None:
                    add(~model._text(val).rlike(rx), "format", "format_mismatch", {"format": F.lit(s["format"])})

    # --------------------------------------------------- value-model hooks

    def _compile_ref(self, target: Any, val: Val, depth: int) -> Node:
        return self._compile(target, val, depth)

    def _typed(self, val: Val) -> Val:
        return val

    def _false_node(self, val: Val) -> Node:
        # an ABSENT value (SQL NULL: a NULL field or map value, an element
        # past the array's end) satisfies even the false schema; a present
        # JSON null does not
        return Node(
            val.col.isNull(),
            cond_violation(val.col.isNotNull(), val.path, "schema", "false_schema_mismatch"),
        )

    def _compile_own(self, s: dict, val: Val, present: Column, add, parts: list, valids: list, depth: int) -> None:
        """Keywords only this value model lowers."""

    def _has(self, val: Val, name: str) -> Column | None:
        """Runtime 'value has property ``name``', or None when it never can."""
        raise NotImplementedError

    # ------------------------------------------------------ value hooks

    def _is(self, val: Val, family: str) -> Column | bool:
        """'The value is a JSON ``family``' ("string" or "number"): a
        plan-time bool or a runtime Column."""
        raise NotImplementedError

    def _text(self, val: Val) -> Column:
        """The value as a string; NULL where it is not one."""
        raise NotImplementedError

    def _number(self, val: Val) -> Column:
        """The value as a number; NULL where it is not one."""
        raise NotImplementedError

    def _shown(self, val: Val) -> Column:
        """The value as the scalar core prints it in params."""
        raise NotImplementedError

    def _type_check(self, val: Val, declared: list) -> tuple[Column | bool, Column] | None:
        """(violated, received type name) of ``type: declared``, or None."""
        raise NotImplementedError

    def _equals(self, val: Val, members: list) -> Column | bool:
        """'The value is JSON-equal to a member' (a bool is no number)."""
        raise NotImplementedError

    def _multiple(self, val: Val, fdiv: Fraction) -> Column | None:
        """'The number is a multiple of ``fdiv`` > 0', None if none is."""
        raise NotImplementedError

    # ------------------------------------------------ collection value model

    # depth added per child step: the typed planner counts only $ref hops,
    # the variant planner every step
    STEP: int

    def _array(self, val: Val, present: Column) -> tuple[Column, Column] | None:
        """(array Column, gate 'the array keywords apply'), or None when the
        value is never an array."""
        raise NotImplementedError

    def _keyed(self, val: Val, present: Column) -> Column | None:
        """Gate 'the value is an object with runtime keys', or None when it
        never is one."""
        raise NotImplementedError

    def _map(self, val: Val) -> Column:
        """A keyed object as ``map<string, V>``."""
        raise NotImplementedError

    def _get(self, val: Val, name: str) -> Column:
        """Member ``name`` of a keyed object, NULL when absent."""
        raise NotImplementedError

    def _at(self, val: Val, arr: Column, i: int) -> Column:
        """Element ``i`` (0-based) of ``arr``, NULL when out of range."""
        raise NotImplementedError

    def _member(self, val: Val, col: Column, path: Column, in_lambda: bool) -> Val:
        """The child Val of an element / member Column of ``val``."""
        raise NotImplementedError

    def _unique_key(self, arr: Column) -> Column:
        """``arr`` with each element in the form uniqueItems compares."""
        return arr

    # ------------------------------------------------------------ arrays

    def _compile_array(self, s: dict, val: Val, present: Column, parts: list, valids: list, depth: int) -> None:
        got = self._array(val, present)
        if got is None:
            return
        arr, gate = got
        n = F.size(arr)
        step = depth + self.STEP
        add = self._adder(gate, val.path, parts, valids)

        def elem(x: Column, i: Column) -> Val:
            return self._member(val, x, F.concat(val.path, F.lit("/"), i.cast("string")), True)

        if "minItems" in s:
            k = int(s["minItems"])
            add(n < k, "minItems", "items_too_short", {"min_items": F.lit(k)})
        if "maxItems" in s:
            k = int(s["maxItems"])
            add(n > k, "maxItems", "items_too_long", {"max_items": F.lit(k)})
        if s.get("uniqueItems") is True:
            canon = self._unique_key(arr)
            # index groups of equal elements, first-occurrence order, as the
            # scalar core prints them: "(0, 2); (1, 3)"
            groups = F.filter(
                F.transform(
                    F.array_distinct(canon),
                    lambda u: F.filter(
                        F.sequence(F.lit(0), n - 1), lambda i: F.element_at(canon, i + 1).eqNullSafe(u)
                    ),
                ),
                lambda g: F.size(g) > 1,
            )
            dups = F.array_join(
                F.transform(groups, lambda g: F.concat(F.lit("("), F.array_join(g.cast("array<string>"), ", "), F.lit(")"))),
                "; ",
            )
            add(F.size(F.array_distinct(canon)) != n, "uniqueItems", "unique_items_mismatch", {"duplicates": dups})

        prefix = s.get("prefixItems") if isinstance(s.get("prefixItems"), list) else []
        pi_conds: list[tuple[Column, Any]] = []
        for i, branch in enumerate(prefix):
            child = self._member(val, self._at(val, arr, i), F.concat(val.path, F.lit(f"/{i}")), val.in_lambda)
            sub = self._compile(branch, child, step)
            parts.append(sub.violations)
            valids.append(sub.valid)
            pi_conds.append((safe(gate & ~sub.valid), i))
        parts.append(
            summary_violation(
                pi_conds, val.path, "prefixItems",
                "prefix_item_mismatch", "prefix_items_mismatch",
                param_single="index", param_plural="indexs", sort_plural=False,
            )
        )

        if isinstance(s.get("items"), (dict, bool)):
            # ONE evaluation of the per-element schema (staged when possible);
            # leafs AND the item(s)_mismatch summary both derive from it
            def elem_violations(x: Column, i: Column) -> Column:
                viols = self._compile(s["items"], elem(x, i), step).violations
                return F.when(i >= len(prefix), viols).otherwise(empty_violations()) if prefix else viols

            pev = self._maybe_stage(F.transform(arr, elem_violations), val)
            element_summary(gate, pev, val.path, "items", "item_mismatch", "items_mismatch", parts, valids)

        if isinstance(s.get("contains"), (dict, bool)):
            def elem_valid(x: Column) -> Column:
                return self._compile(s["contains"], self._member(val, x, F.lit(""), True), step).valid

            matches = F.size(F.filter(arr, elem_valid))
            min_c = int(s.get("minContains", 1))
            max_c = s.get("maxContains")
            if min_c > 0:
                add(matches < min_c, "contains", "contains_too_few_items", {"min_contains": F.lit(min_c)})
            if max_c is not None:
                add(matches > int(max_c), "maxContains", "contains_too_many_items", {"max_contains": F.lit(int(max_c))})

        if "unevaluatedItems" in s:
            # an element is evaluated when a claim source covers its index
            # or a claimed contains matches it
            branch = s["unevaluatedItems"]
            sources = self._claims(s, val, depth, "Items")

            def uneval_violations(x: Column, i: Column) -> Column:
                x_val = elem(x, i)
                evaluated = self._item_claimed(sources, x_val, i, depth)
                return F.when(~evaluated, self._compile(branch, x_val, step).violations).otherwise(empty_violations())

            if branch is not True and branch != {} and not self._evaluates_all(sources):
                pev = self._maybe_stage(F.transform(arr, uneval_violations), val)
                element_summary(
                    gate, pev, val.path, "unevaluatedItems",
                    "unevaluated_item_mismatch", "unevaluated_items_mismatch", parts, valids,
                )

    # ------------------------------------------------------- keyed objects

    def _compile_keyed(self, s: dict, val: Val, present: Column, parts: list, valids: list, depth: int) -> None:
        """Object keywords over a value whose keys are only known at runtime."""
        gate = self._keyed(val, present)
        if gate is None:
            return
        path = val.path
        step = depth + self.STEP

        if isinstance(s.get("required"), list):
            req_conds: list[tuple[Column, Any]] = []
            for name in s["required"]:
                cond = safe(gate & ~self._has(val, name))
                req_conds.append((cond, name))
                valids.append(~cond)
            parts.append(
                summary_violation(
                    req_conds, path, "required",
                    "missing_required_property", "missing_required_properties",
                    sort_plural=False,
                )
            )

        if isinstance(s.get("dependentRequired"), dict):
            dr_conds: list[tuple[Column, Any]] = []
            for trigger, needs in s["dependentRequired"].items():
                if not isinstance(needs, list):
                    continue
                have = self._has(val, trigger)
                for name in needs:
                    cond = safe(gate & have & ~self._has(val, name))
                    dr_conds.append((cond, name))
                    valids.append(~cond)
            if dr_conds:
                parts.append(
                    joined_violation(
                        dr_conds, path, "dependentRequired",
                        "dependent_property_required", "missing_properties",
                    )
                )

        if isinstance(s.get("properties"), dict):
            prop_conds: list[tuple[Column, Any]] = []
            for name, branch in s["properties"].items():
                child = self._member(
                    val, self._get(val, name), F.concat(path, F.lit("/" + escape_token(name))), val.in_lambda
                )
                node = self._compile(branch, child, step)
                if self._stages is not None and not val.in_lambda:
                    # evaluate each property's checks ONCE: the staged
                    # violations feed leafs, validity AND the summary flag
                    viols = self._maybe_stage(node.violations, val)
                    bad = safe(gate & (F.size(viols) > 0))
                else:
                    viols = node.violations
                    bad = safe(gate & ~node.valid)
                parts.append(F.when(gate, viols).otherwise(empty_violations()))
                prop_conds.append((bad, name))
                valids.append(~bad)
            parts.append(
                summary_violation(
                    prop_conds, path, "properties",
                    "property_mismatch", "properties_mismatch",
                )
            )

        if not any(k in s for k in _KEYED_KEYWORDS):
            return
        # the key list is staged: every per-key access references one
        # enumeration per row instead of one per key reference
        m = self._map(val)
        keys = self._maybe_stage(F.map_keys(m), val)
        obj = gate & m.isNotNull()

        def key_summary(bad: Column, keyword: str, code_single: str, code_plural: str) -> None:
            parts.append(list_summary(obj, bad, path, keyword, code_single, code_plural))
            valids.append(~safe(obj & (F.size(bad) > 0)))

        def kv_violations(branch: Any):
            def fn(k: Column) -> Column:
                child = self._member(val, F.element_at(m, k), F.concat(path, F.lit("/"), _escape_key(k)), True)
                return self._compile(branch, child, step).violations

            return fn

        def bad_keys(ks: Column, pv: Column) -> Column:
            """The keys of ``ks`` whose violations array in ``pv`` is non-empty."""
            return F.filter(F.zip_with(ks, pv, lambda k, a: F.when(F.size(a) > 0, k)), lambda x: x.isNotNull())

        add = self._adder(obj, path, parts, valids)
        for kw, code, pkey, op in (
            ("minProperties", "too_few_properties", "min_properties", operator.lt),
            ("maxProperties", "too_many_properties", "max_properties", operator.gt),
        ):
            if kw in s:
                k = int(s[kw])
                add(op(F.size(keys), k), kw, code, {pkey: F.lit(k)})

        if isinstance(s.get("propertyNames"), (dict, bool)):
            name_ok = self._key_predicate(s["propertyNames"])
            bad = F.filter(keys, lambda k: ~safe(name_ok(k)))
            key_summary(bad, "propertyNames", "property_name_mismatch", "property_names_mismatch")

        # Cost note (variant path, measured at sf0.1 / 100k rows / 3 keys):
        # the per-key transforms below dominate dynamic-object validation.
        # Precomputing a per-object key→type map is a measured dead end; the
        # remaining cost is per-key violation construction inside
        # interpreted HOF lambdas.
        pats = list(s["patternProperties"].items()) if isinstance(s.get("patternProperties"), dict) else []
        if pats:
            pp_bad: Column | None = None
            for pat, branch in pats:
                matching = self._maybe_stage(F.filter(keys, lambda k: safe(k.rlike(pat))), val)
                # ONE evaluation per key: the staged per-key violations
                # array feeds the leafs AND the bad-key derivation
                pv = self._maybe_stage(F.transform(matching, kv_violations(branch)), val)
                parts.append(F.when(obj, F.flatten(pv)).otherwise(empty_violations()))
                bad_k = bad_keys(matching, pv)
                pp_bad = bad_k if pp_bad is None else F.concat(pp_bad, bad_k)
            key_summary(
                F.array_distinct(pp_bad), "patternProperties",
                "pattern_property_mismatch", "pattern_properties_mismatch",
            )

        def extra_keys(branch: Any, extra: Column, keyword: str, code_single: str, code_plural: str) -> None:
            """Apply a subschema (or False) to the keys in ``extra``: per-key
            leaf violations at the child path + ONE singular/plural summary."""
            if branch is True or branch == {}:
                return
            extra = self._maybe_stage(extra, val)
            if branch is False:
                leafs = F.transform(
                    extra,
                    lambda k: mk_violation(F.concat(path, F.lit("/"), _escape_key(k)), "schema", "false_schema_mismatch"),
                )
                parts.append(F.when(obj, leafs).otherwise(empty_violations()))
                bad = extra
            else:
                pv = self._maybe_stage(F.transform(extra, kv_violations(branch)), val)
                parts.append(F.when(obj, F.flatten(pv)).otherwise(empty_violations()))
                bad = bad_keys(extra, pv)
            key_summary(bad, keyword, code_single, code_plural)

        if isinstance(s.get("additionalProperties"), (dict, bool)):
            declared = list(s["properties"]) if isinstance(s.get("properties"), dict) else []
            extra = F.filter(keys, lambda k: ~k.isin(*declared)) if declared else keys
            for pat, _ in pats:
                extra = F.filter(extra, lambda k: ~safe(k.rlike(pat)))
            extra_keys(
                s["additionalProperties"], extra, "additionalProperties",
                "additional_property_mismatch", "additional_properties_mismatch",
            )

        if isinstance(s.get("unevaluatedProperties"), (dict, bool)):
            sources = self._claims(s, val, depth, "Properties")
            if not self._evaluates_all(sources):

                def unclaimed(k: Column) -> Column:
                    claimed = F.lit(False)
                    for g, c in sources:
                        cp = F.lit(c.every)
                        if c.names:
                            cp = cp | k.isin(*sorted(set(c.names)))
                        for pat in c.patterns:
                            cp = cp | safe(k.rlike(pat))
                        claimed = claimed | (cp if g is None else (g & cp))
                    return ~safe(claimed)

                extra_keys(
                    s["unevaluatedProperties"], F.filter(keys, unclaimed), "unevaluatedProperties",
                    "unevaluated_property_mismatch", "unevaluated_properties_mismatch",
                )

    def _key_predicate(self, sub: Any):
        """A propertyNames subschema as a predicate over the key string: the
        value assertions with the key as a string value; keywords no string
        predicate expresses raise ``error``."""
        if sub is True or sub == {}:
            return lambda k: F.lit(True)
        if sub is False:
            return lambda k: F.lit(False)
        bad = set(sub) - _NAME_SCHEMA_KEYWORDS
        if bad:
            raise self.error(f"propertyNames keywords {sorted(bad)} need the UDF path")

        def pred(k: Column) -> Column:
            oks: list[Column] = []
            self._compile_assertions(sub, Val(k, F.lit("")), _KEY, self._adder(True, None, None, oks))
            return reduce(operator.and_, oks, F.lit(True))

        return pred

    # ----------------------------------------------------------- logical

    def _compile_logical(self, s: dict, val: Val, present: Column, parts: list, valids: list, depth: int) -> None:
        if isinstance(s.get("allOf"), list):
            subs = [self._compile(branch, val, depth) for branch in s["allOf"]]
            for sub in subs:
                valids.append(sub.valid)
            if subs:
                for sub in subs:
                    parts.append(sub.violations)
                # the scalar core emits ONE all_of_item_mismatch with the
                # failing indices joined, regardless of count
                parts.append(
                    joined_violation(
                        [(safe(present & ~sub.valid), i) for i, sub in enumerate(subs)],
                        val.path, "allOf", "all_of_item_mismatch", "indexs",
                    )
                )

        if isinstance(s.get("anyOf"), list):
            ok = _any([self._compile(b, val, depth).valid for b in s["anyOf"]])
            cond = safe(present & ~ok)
            parts.append(cond_violation(cond, val.path, "anyOf", "any_of_item_mismatch"))
            valids.append(~cond)

        if isinstance(s.get("oneOf"), list):
            branch_valid = [safe(self._compile(b, val, depth).valid) for b in s["oneOf"]]
            cnt = reduce(operator.add, [c.cast("int") for c in branch_valid], F.lit(0))
            # matching branch indexes, joined like the scalar core's params
            matches = F.concat_ws(", ", *[F.when(c, F.lit(str(i))) for i, c in enumerate(branch_valid)])
            parts.append(cond_violation(safe(present & (cnt == 0)), val.path, "oneOf", "one_of_item_mismatch"))
            parts.append(
                cond_violation(
                    safe(present & (cnt > 1)), val.path, "oneOf", "one_of_multiple_matches",
                    {"matches": matches},
                )
            )
            valids.append(safe(cnt == 1) | ~present)

        if "not" in s:
            sub = self._compile(s["not"], val, depth)
            cond = safe(present & sub.valid)
            parts.append(cond_violation(cond, val.path, "not", "not_schema_mismatch"))
            valids.append(~cond)

        if "if" in s:
            cond_node = self._compile(s["if"], val, depth)
            for kw, code in (("then", "if_then_mismatch"), ("else", "if_else_mismatch")):
                if kw in s:
                    node = self._compile(s[kw], val, depth)
                    taken = safe(present & (cond_node.valid if kw == "then" else ~cond_node.valid))
                    parts.append(F.when(taken, node.violations).otherwise(empty_violations()))
                    parts.append(cond_violation(taken & ~node.valid, val.path, kw, code))
                    valids.append(~taken | safe(node.valid))

        if isinstance(s.get("dependentSchemas"), dict):
            ds_conds: list[tuple[Column, Any]] = []
            for prop, branch in s["dependentSchemas"].items():
                have = self._has(val, prop)
                if have is None:
                    continue
                sub = self._compile(branch, val, depth)
                have = safe(present & have)
                parts.append(F.when(have, sub.violations).otherwise(empty_violations()))
                ds_conds.append((safe(have & ~sub.valid), prop))
                valids.append(~have | safe(sub.valid))
            if ds_conds:
                parts.append(
                    summary_violation(
                        ds_conds, val.path, "dependentSchemas",
                        "dependent_schema_mismatch", "dependent_schemas_mismatch",
                    )
                )

    # ------------------------------------------------------------ claims

    def _claims(self, s: dict, val: Val, depth: int, kind: str) -> list[tuple[Column | None, Claim]]:
        """Claim sources for ``unevaluated<kind>`` (kind "Properties" or
        "Items"): (gate, Claim) pairs, gate None when unconditional.

        Annotation flow (reference: unevaluated_properties.go:17-69; scalar:
        evaluator.py merge_annotations sites): the schema's own keywords
        claim unconditionally; an in-place subschema ($ref / $dynamicRef
        target, allOf / anyOf / oneOf branch, if / then / else,
        dependentSchemas entry, to ANY nesting depth) claims only while it
        APPLIES AND SUCCEEDS, so a claim N applicators deep carries the
        conjunction of N gates. Gates
        compile once and are staged for per-key / per-element reuse."""
        out: list[tuple[Column | None, Claim]] = []
        active: set[int] = set()  # subschemas on the walk stack ($ref cycles)

        def gated(gate: Column | None, cond: Column) -> Column:
            return self._maybe_stage(safe(cond) if gate is None else safe(gate & cond), val)

        def valid(b: Any) -> Column:
            return self._compile(b, val, depth + 1).valid

        def emit(b: Any, gate: Column | None) -> None:
            if isinstance(b, dict) and id(b) not in active:
                walk(b, gated(gate, valid(b)))

        def walk(b: dict, gate: Column | None, root: bool = False) -> None:
            # b's resource joins the dynamic scope while its $dynamicRef
            # resolves, as in _compile
            base = self.registry.base_of(b)
            pushed = not self._scope or self._scope[-1] != base
            if pushed:
                self._scope.append(base)
            try:
                visit(b, gate, root)
            finally:
                if pushed:
                    self._scope.pop()

        def visit(b: dict, gate: Column | None, root: bool) -> None:
            active.add(id(b))
            claim = Claim()
            _collect(b, claim, kind, root)
            if claim:
                out.append((gate, claim))
            for kw in ("$ref", "$dynamicRef"):
                if isinstance(b.get(kw), str):
                    emit(self._resolve(kw, b), gate)
            # every PASSING allOf / anyOf branch merges its annotations
            for kw in ("allOf", "anyOf"):
                for bb in b.get(kw) or []:
                    emit(bb, gate)
            if isinstance(b.get("oneOf"), list):
                # the winner merges only when EXACTLY one matches
                one = reduce(operator.add, [safe(valid(bb)).cast("int") for bb in b["oneOf"]]) == 1
                for bb in b["oneOf"]:
                    emit(bb, gated(gate, one))
            if "if" in b:
                # if's own claims flow iff it succeeds; then's iff if AND
                # then succeed; else's iff if fails AND else succeeds
                if_valid = valid(b["if"])
                emit(b["if"], gate)
                if isinstance(b.get("then"), dict):
                    emit(b["then"], gated(gate, if_valid))
                if isinstance(b.get("else"), dict):
                    emit(b["else"], gated(gate, ~safe(if_valid)))
            if isinstance(b.get("dependentSchemas"), dict):
                for key, bb in b["dependentSchemas"].items():
                    have = self._has(val, key)
                    if have is not None:
                        emit(bb, gated(gate, have))
            active.discard(id(b))

        walk(s, None, root=True)
        return out

    def _item_claimed(self, sources: list, x: Val, i: Column, depth: int) -> Column:
        """Runtime 'element ``x`` at index ``i`` was evaluated' predicate
        over item-claim sources (prefixItems length, contains matches)."""
        evaluated = F.lit(False)
        for gate, c in sources:
            claim = F.lit(c.every)
            if not c.every:
                if c.prefix:
                    claim = claim | (i < c.prefix)
                for cs in c.contains:
                    claim = claim | safe(self._compile(cs, x, depth + 1).valid)
            evaluated = evaluated | (safe(claim) if gate is None else safe(gate & claim))
        return evaluated

    @staticmethod
    def _evaluates_all(sources: list) -> bool:
        return any(gate is None and c.every for gate, c in sources)
