"""schema_compat: evolution-compatibility diff rules, cross-checked
against the engine's own row evaluator (a flagged-breaking evolution must
actually reject some old-valid instance; an unflagged one must not)."""

from __future__ import annotations

import pytest

from jsonschema_spark.compat import schema_compat
from jsonschema_spark.evaluator import Evaluator


def _breaking(old, new):
    return [f for f in schema_compat(old, new) if f["breaking"]]


# (old, new, instances valid under old, expect_breaking)
CASES = [
    # required added
    (
        {"type": "object", "properties": {"a": {"type": "string"}}},
        {"type": "object", "properties": {"a": {"type": "string"}}, "required": ["a"]},
        [{}],
        True,
    ),
    # required dropped: relaxation
    (
        {"type": "object", "required": ["a"]},
        {"type": "object"},
        [{"a": 1}],
        False,
    ),
    # type narrowed
    ({"type": ["string", "integer"]}, {"type": "string"}, [7], True),
    # integer -> number is a widening, not a break
    ({"type": "integer"}, {"type": "number"}, [3], False),
    # enum narrowed
    ({"enum": ["a", "b"]}, {"enum": ["a"]}, ["b"], True),
    # enum added where there was none
    ({"type": "string"}, {"type": "string", "enum": ["a"]}, ["z"], True),
    # bounds tightened
    ({"minimum": 0}, {"minimum": 5}, [2], True),
    ({"maximum": 10}, {"maximum": 3}, [8], True),
    ({"type": "string"}, {"type": "string", "maxLength": 2}, ["abc"], True),
    # bounds relaxed: fine
    ({"minimum": 5}, {"minimum": 0}, [7], False),
    # pattern added
    ({"type": "string"}, {"type": "string", "pattern": "^a"}, ["zz"], True),
    # additionalProperties closed
    (
        {"type": "object", "properties": {"a": {}}},
        {"type": "object", "properties": {"a": {}}, "additionalProperties": False},
        [{"a": 1, "b": 2}],
        True,
    ),
    # nested property constraint tightened
    (
        {"properties": {"o": {"properties": {"x": {"type": ["integer", "string"]}}}}},
        {"properties": {"o": {"properties": {"x": {"type": "integer"}}}}},
        [{"o": {"x": "s"}}],
        True,
    ),
    # prefixItems position added
    ({"prefixItems": [{"type": "integer"}]},
     {"prefixItems": [{"type": "integer"}, {"type": "string"}]},
     [[1, 2]],
     True),
    # identical schemas
    ({"type": "object", "properties": {"a": {"type": "string"}}},
     {"type": "object", "properties": {"a": {"type": "string"}}},
     [{"a": "x"}],
     False),
    # composite members compare by JSON equality: key order, 1 vs 1.0
    ({"enum": [{"a": 1, "b": 2}]}, {"enum": [{"b": 2, "a": 1}]}, [{"a": 1, "b": 2}], False),
    ({"const": [1]}, {"const": [1.0]}, [[1]], False),
]


@pytest.mark.parametrize("old,new,instances,expect_breaking", CASES)
def test_compat_rules(old, new, instances, expect_breaking):
    found = _breaking(old, new)
    assert bool(found) == expect_breaking, found
    # semantic cross-check with the engine's own evaluator
    ev_old, ev_new = Evaluator(old), Evaluator(new)
    for inst in instances:
        assert ev_old.validate(inst).valid, f"fixture not old-valid: {inst}"
        rejected = not ev_new.validate(inst).valid
        if rejected:
            assert found, f"{inst} rejected by new schema but diff saw no break"
        if not expect_breaking:
            assert not rejected, f"unflagged evolution rejected {inst}"


def test_compat_boolean_schemas():
    assert _breaking(True, {"type": "string"})
    assert _breaking({"type": "string"}, False)
    assert not _breaking(False, {"type": "string"})  # opening accepts more


def test_compat_opaque_applicator_change_is_flagged():
    old = {"allOf": [{"minimum": 0}]}
    new = {"allOf": [{"minimum": 1}]}
    f = schema_compat(old, new)
    assert any(x["change"] == "applicator_changed" and x["breaking"] for x in f)


def test_compat_findings_carry_pointer_paths():
    old = {"properties": {"a": {"properties": {"b": {"minimum": 0}}}}}
    new = {"properties": {"a": {"properties": {"b": {"minimum": 2}}}}}
    (f,) = _breaking(old, new)
    assert f["path"] == "/properties/a/properties/b"
    assert f["change"] == "minimum_tightened"
