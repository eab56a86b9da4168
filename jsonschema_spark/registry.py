"""Schema document registry: $id / $anchor / $dynamicAnchor resolution.

Clean-room implementation of JSON Schema draft 2020-12 identification
semantics. A *document* registered under a URI is walked once; every embedded
resource (subschema with ``$id``) is registered under its resolved URI, and
anchors are indexed per-resource. Remote documents are fetched through a
pluggable loader (driver-side only — never from executors; reference analogue:
compiler.go remote loaders).
"""

from __future__ import annotations

import urllib.parse
from typing import Any, Callable

__all__ = ["Registry", "JsonPointerError"]

# keyword → how its value holds subschemas
_SINGLE_SCHEMA_KEYWORDS = (
    "additionalProperties",
    "contains",
    "propertyNames",
    "if",
    "then",
    "else",
    "not",
    "items",
    "unevaluatedItems",
    "unevaluatedProperties",
    "contentSchema",
    "additionalItems",
)
_MAP_SCHEMA_KEYWORDS = ("$defs", "definitions", "properties", "patternProperties", "dependentSchemas")
_LIST_SCHEMA_KEYWORDS = ("allOf", "anyOf", "oneOf", "prefixItems")


class JsonPointerError(KeyError):
    pass


def _resolve_uri(base: str, ref: str) -> str:
    """RFC 3986 resolution, preserving empty fragments' absence."""
    if not base:
        return ref
    resolved = urllib.parse.urljoin(base, ref)
    return resolved


def _split_fragment(uri: str) -> tuple[str, str]:
    if "#" in uri:
        base, frag = uri.split("#", 1)
        return base, frag
    return uri, ""


def _unescape_pointer_token(tok: str) -> str:
    return tok.replace("~1", "/").replace("~0", "~")


class Registry:
    """Holds schema documents and the identifier index across them."""

    def __init__(self, loader: Callable[[str], Any] | None = None) -> None:
        # resource URI (no fragment) → schema value (dict or bool)
        self.resources: dict[str, Any] = {}
        # (resource URI, anchor name) → schema value
        self.anchors: dict[tuple[str, str], Any] = {}
        # (resource URI, anchor name) → schema value, for $dynamicAnchor
        self.dynamic_anchors: dict[tuple[str, str], Any] = {}
        # id(dict) → base (resource) URI for every dict in registered docs
        self._base_of: dict[int, str] = {}
        # id(dict) → resource root value containing it
        self._resource_root_of: dict[int, Any] = {}
        # keep references alive so id() stays stable
        self._pins: list[Any] = []
        self.loader = loader

    # ---------------------------------------------------------------- loading

    def register(self, document: Any, uri: str = "") -> str:
        """Register a document; returns its canonical root resource URI."""
        base, frag = _split_fragment(uri)
        if frag:
            raise ValueError(f"document URI must not carry a fragment: {uri}")
        root_uri = base
        if isinstance(document, dict):
            doc_id = document.get("$id")
            if isinstance(doc_id, str):
                root_uri, _ = _split_fragment(_resolve_uri(base, doc_id))
        self._pins.append(document)
        if root_uri:
            self.resources[root_uri] = document
        if base and base != root_uri:
            self.resources[base] = document
        self._walk(document, root_uri, document, is_schema=True, at_root=True)
        return root_uri

    def _walk(self, value: Any, base: str, resource_root: Any, *, is_schema: bool, at_root: bool = False) -> None:
        if isinstance(value, bool):
            return
        if isinstance(value, list):
            for v in value:
                self._walk(v, base, resource_root, is_schema=False)
            return
        if not isinstance(value, dict):
            return

        here_base, here_root = base, resource_root
        if is_schema:
            sid = value.get("$id")
            if isinstance(sid, str) and (not at_root):
                new_uri, frag = _split_fragment(_resolve_uri(base, sid))
                if not frag:  # $id with fragment is legacy; ignore here
                    here_base, here_root = new_uri, value
                    self.resources[new_uri] = value
            anchor = value.get("$anchor")
            if isinstance(anchor, str):
                self.anchors[(here_base, anchor)] = value
            dyn = value.get("$dynamicAnchor")
            if isinstance(dyn, str):
                self.dynamic_anchors[(here_base, dyn)] = value
                self.anchors.setdefault((here_base, dyn), value)

        self._base_of[id(value)] = here_base
        self._resource_root_of[id(value)] = here_root

        if not is_schema:
            # raw (non-schema) container: still record bases, don't interpret
            for v in value.values():
                self._walk(v, here_base, here_root, is_schema=False)
            return

        for kw, v in value.items():
            if kw in _SINGLE_SCHEMA_KEYWORDS:
                self._walk(v, here_base, here_root, is_schema=True)
            elif kw in _MAP_SCHEMA_KEYWORDS and isinstance(v, dict):
                for sub in v.values():
                    self._walk(sub, here_base, here_root, is_schema=True)
            elif kw in _LIST_SCHEMA_KEYWORDS and isinstance(v, list):
                for sub in v:
                    self._walk(sub, here_base, here_root, is_schema=True)
            elif kw == "dependencies" and isinstance(v, dict):
                for sub in v.values():
                    if isinstance(sub, (dict, bool)):
                        self._walk(sub, here_base, here_root, is_schema=True)
            else:
                # unknown keyword: contents are data, but JSON-pointer refs may
                # still target them — record bases without schema semantics
                self._walk(v, here_base, here_root, is_schema=False)

    # ------------------------------------------------------------- resolution

    def base_of(self, schema: Any, fallback: str = "") -> str:
        if isinstance(schema, dict):
            return self._base_of.get(id(schema), fallback)
        return fallback

    def resource_root_of(self, schema: Any) -> Any:
        if isinstance(schema, dict):
            return self._resource_root_of.get(id(schema), schema)
        return schema

    def _ensure_resource(self, uri: str) -> Any:
        if uri in self.resources:
            return self.resources[uri]
        if self.loader is None:
            raise KeyError(f"unresolvable schema URI: {uri!r} (no loader)")
        doc = self.loader(uri)
        self.register(doc, uri)
        if uri not in self.resources:
            self.resources[uri] = doc
        return self.resources[uri]

    def resolve_pointer(self, root: Any, pointer: str) -> Any:
        cur = root
        if pointer in ("", "/"):
            if pointer == "":
                return cur
        for tok in pointer.lstrip("/").split("/") if pointer else []:
            tok = _unescape_pointer_token(urllib.parse.unquote(tok))
            if isinstance(cur, dict):
                if tok not in cur:
                    raise JsonPointerError(pointer)
                cur = cur[tok]
            elif isinstance(cur, list):
                try:
                    cur = cur[int(tok)]
                except (ValueError, IndexError) as exc:
                    raise JsonPointerError(pointer) from exc
            else:
                raise JsonPointerError(pointer)
        return cur

    def resolve_ref(self, ref: str, current_schema: Any, current_base: str) -> tuple[Any, str]:
        """Resolve a $ref from a schema; returns (target schema, target base URI)."""
        base = self.base_of(current_schema, current_base)
        absolute = _resolve_uri(base, ref) if base else ref
        res_uri, frag = _split_fragment(absolute)
        if res_uri:
            root = self._ensure_resource(res_uri)
        else:
            root = self.resource_root_of(current_schema)
        if not frag:
            return root, res_uri or base
        if frag.startswith("/"):
            target = self.resolve_pointer(root, frag)
            tbase = self.base_of(target, res_uri or base)
            return target, tbase
        # anchor fragment
        key = (res_uri or base, frag)
        if key in self.anchors:
            target = self.anchors[key]
            return target, self.base_of(target, res_uri or base)
        raise KeyError(f"unresolvable anchor: {absolute!r}")

    def resolve_dynamic(self, ref: str, current_schema: Any, scope_bases: list[str]) -> Any:
        """Resolve a $dynamicRef under a dynamic scope (resource base URIs,
        outermost first). A plain-name fragment whose static target carries
        the matching $dynamicAnchor resolves to the outermost scope resource
        declaring that anchor; everything else behaves like $ref
        (reference: validate.go:155-177)."""
        target, _ = self.resolve_ref(ref, current_schema, "")
        frag = ref.split("#", 1)[1] if "#" in ref else ""
        if frag and not frag.startswith("/") and isinstance(target, dict) and target.get("$dynamicAnchor") == frag:
            for b in scope_bases:
                hit = self.dynamic_anchors.get((b, frag))
                if hit is not None:
                    return hit
        return target
