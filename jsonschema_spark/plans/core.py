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
- the annotation-flow walk that decides which properties / items an
  ``unevaluated*`` keyword still sees.

Subclasses keep only their value model: how a value is typed
(:meth:`PlanCompiler._typed`), how it is validated and how its children are
reached (:meth:`PlanCompiler._compile_value`), whether it has a property
(:meth:`PlanCompiler._has`), and what the false schema means for it.
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

from jsonschema_spark.registry import Registry

__all__ = [
    "PlanCompiler",
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
    "joined_violation",
    "list_summary",
    "mk_violation",
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


# ------------------------------------------------------------- wire format


def escape_token(tok: str) -> str:
    """JSON-pointer escaping of one path token."""
    return tok.replace("~", "~0").replace("/", "~1")


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
        self._compile_value(s, val, present, parts, valids, depth)
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

    # --------------------------------------------------- value-model hooks

    def _compile_ref(self, target: Any, val: Val, depth: int) -> Node:
        return self._compile(target, val, depth)

    def _typed(self, val: Val) -> Val:
        return val

    def _false_node(self, val: Val) -> Node:
        return Node(F.lit(False), cond_violation(F.lit(True), val.path, "schema", "false_schema_mismatch"))

    def _compile_value(self, s: dict, val: Val, present: Column, parts: list, valids: list, depth: int) -> None:
        raise NotImplementedError

    def _has(self, val: Val, name: str) -> Column | None:
        """Runtime 'value has property ``name``', or None when it never can."""
        raise NotImplementedError

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
