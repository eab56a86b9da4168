"""Schema-evolution compatibility diff.

Given two versions of a JSON Schema, report every change that can BREAK
instances that were valid under the old version (read-compatibility: will
yesterday's data still validate under today's schema?). This is the
pre-flight check a 10^12-document corpus needs before a schema rollout —
re-validating the corpus costs a full scan; diffing the schemas costs
nothing, and the findings name the JSON-pointer paths a targeted
re-validation (`queries.incremental_validate_events` on the affected
partitions) should probe.

The reference has no analogue (kaptinlin/jsonschema validates instances
against one schema); this is engine tooling in the spirit of its
`FromStruct`/metaschema surface. Rules are deliberately conservative: a
change is `breaking=True` only when it strictly narrows the accepted set
on a path (added required, narrowed type/enum/const, tightened numeric/
length/item bounds, closed additionalProperties, changed pattern/format),
and `breaking=False` findings are informational relaxations or opaque
changes a reviewer should eyeball. Unknown/unsupported keywords are
ignored — absence of findings is NOT a proof of full compatibility for
schemas leaning on applicators this walk does not descend (allOf/anyOf/
oneOf/not/$ref bodies are compared opaquely).
"""

from __future__ import annotations

from typing import Any

from jsonschema_spark.json_values import json_hash_key

__all__ = ["schema_compat"]

_TYPE_ORDER = ("null", "boolean", "integer", "number", "string", "array", "object")

# keyword -> True when a RAISE narrows (minimum-style), False when a LOWER
# narrows (maximum-style)
_BOUNDS = {
    "minimum": True,
    "exclusiveMinimum": True,
    "minLength": True,
    "minItems": True,
    "minProperties": True,
    "minContains": True,
    "maximum": False,
    "exclusiveMaximum": False,
    "maxLength": False,
    "maxItems": False,
    "maxProperties": False,
    "maxContains": False,
}

_OPAQUE = ("allOf", "anyOf", "oneOf", "not", "$ref", "if", "then", "else")


def _type_rank(t):
    """Stable sort key; unknown type names (invalid schemas reach the
    differ too) sort after the known ones instead of raising."""
    return (_TYPE_ORDER.index(t), "") if t in _TYPE_ORDER else (len(_TYPE_ORDER), str(t))


def _types(s: dict) -> set | None:
    t = s.get("type")
    if t is None:
        return None
    ts = set([t] if isinstance(t, str) else t)
    if "number" in ts:
        ts.add("integer")  # integer instances satisfy "number"
    return ts


def _find(path: str, change: str, old: Any, new: Any, breaking: bool) -> dict:
    return {
        "path": path,
        "change": change,
        "old": old,
        "new": new,
        "breaking": breaking,
    }


def schema_compat(old: Any, new: Any, path: str = "") -> list[dict]:
    """Diff two schema trees; returns findings sorted by (path, change).
    Boolean schemas follow the spec: `True` accepts everything, `False`
    nothing — so True→subschema and anything→False narrow."""
    out: list[dict] = []
    if isinstance(old, bool) or isinstance(new, bool):
        o_accepts_all = old is True or old == {}
        n_accepts_all = new is True or new == {}
        if old is False and new is not False:
            out.append(_find(path, "schema_opened", False, new, False))
        elif o_accepts_all and not n_accepts_all:
            out.append(_find(path, "schema_constrained", old, new, True))
        elif new is False and old is not False:
            out.append(_find(path, "schema_closed", old, False, True))
        return out
    if not isinstance(old, dict) or not isinstance(new, dict):
        return out

    # --- type ---
    ot, nt = _types(old), _types(new)
    if nt is not None and (ot is None or bool(ot - nt)):
        out.append(
            _find(
                path,
                "type_narrowed",
                sorted(ot, key=_type_rank) if ot else None,
                sorted(nt, key=_type_rank),
                True,
            )
        )

    # --- enum / const ---
    # members compare by JSON equality: booleans stay distinct from numbers
    # ([1] -> [true] narrows), 1 == 1.0, and object key order is irrelevant
    if "enum" in new:
        oe = old.get("enum")
        if oe is None:
            out.append(_find(path, "enum_added", None, new["enum"], True))
        else:
            new_keys = {json_hash_key(v) for v in new["enum"]}
            removed = [v for v in oe if json_hash_key(v) not in new_keys]
            if removed:
                out.append(_find(path, "enum_narrowed", oe, new["enum"], True))
    if "const" in new and (
        "const" not in old or json_hash_key(old["const"]) != json_hash_key(new["const"])
    ):
        out.append(
            _find(path, "const_changed", old.get("const"), new["const"], True)
        )

    # --- bounds ---
    for kw, raise_narrows in _BOUNDS.items():
        ov, nv = old.get(kw), new.get(kw)
        if nv is None:
            continue
        if ov is None:
            out.append(_find(path, f"{kw}_added", None, nv, True))
        elif (nv > ov) if raise_narrows else (nv < ov):
            out.append(_find(path, f"{kw}_tightened", ov, nv, True))

    # --- pattern / format / multipleOf: opaque, any change is suspect ---
    for kw in ("pattern", "format", "multipleOf", "contentMediaType"):
        ov, nv = old.get(kw), new.get(kw)
        if nv is not None and ov != nv:
            # a new or changed opaque constraint narrows until proven not to
            out.append(_find(path, f"{kw}_changed", ov, nv, True))

    # --- required ---
    o_req, n_req = set(old.get("required", ())), set(new.get("required", ()))
    for r in sorted(n_req - o_req):
        out.append(_find(path, "required_added", None, r, True))
    for r in sorted(o_req - n_req):
        out.append(_find(path, "required_removed", r, None, False))

    # --- properties (recurse) ---
    o_props, n_props = old.get("properties", {}), new.get("properties", {})
    for name in sorted(set(o_props) | set(n_props)):
        sub = f"{path}/properties/{name}"
        if name not in o_props:
            # previously governed by additionalProperties (old): narrowing
            # only if old additionalProperties was open and new subschema
            # constrains — conservative: breaking unless new schema is open
            open_new = n_props[name] in (True, {})
            out.append(
                _find(sub, "property_added", None, n_props[name], not open_new)
            )
        elif name not in n_props:
            ap = new.get("additionalProperties", True)
            out.append(
                _find(sub, "property_removed", o_props[name], None, ap is False)
            )
        else:
            out.extend(schema_compat(o_props[name], n_props[name], sub))

    # --- additionalProperties / items closure ---
    for kw in ("additionalProperties", "unevaluatedProperties", "items",
               "additionalItems", "unevaluatedItems", "propertyNames"):
        ov, nv = old.get(kw, True), new.get(kw, True)
        sub = f"{path}/{kw}"
        if isinstance(ov, dict) and isinstance(nv, dict):
            out.extend(schema_compat(ov, nv, sub))
        elif ov != nv:
            if nv is False:
                out.append(_find(sub, "closed", ov, False, True))
            elif ov is False:
                out.append(_find(sub, "opened", False, nv, False))
            else:
                out.extend(schema_compat(ov, nv, sub))

    # --- prefixItems (positional recurse; added positions constrain) ---
    o_pre, n_pre = old.get("prefixItems", []), new.get("prefixItems", [])
    for i in range(max(len(o_pre), len(n_pre))):
        sub = f"{path}/prefixItems/{i}"
        if i >= len(o_pre):
            out.append(_find(sub, "prefix_item_added", None, n_pre[i], True))
        elif i >= len(n_pre):
            out.append(_find(sub, "prefix_item_removed", o_pre[i], None, False))
        else:
            out.extend(schema_compat(o_pre[i], n_pre[i], sub))

    # --- opaque applicators: flag any change, do not descend ---
    for kw in _OPAQUE:
        ov, nv = old.get(kw), new.get(kw)
        if ov != nv:
            out.append(
                _find(f"{path}/{kw}", "applicator_changed", ov, nv, nv is not None)
            )

    out.sort(key=lambda f: (f["path"], f["change"]))
    return out
