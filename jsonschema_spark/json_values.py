"""Exact JSON value model: decode, type, equality, structural hash.

Mirrors the reference's exact-number contract (reference: rat.go, utils.go,
unique_items.go): JSON numbers never round-trip through binary floats for
comparisons. We use :class:`fractions.Fraction` — Python's arbitrary-precision
rational — as the analogue of Go's ``big.Rat``.

JSON equality is value equality: numbers by mathematical value (``1 == 1.0``),
booleans distinct from numbers (``true != 1``), arrays positionally, objects by
key set + per-key equality.
"""

from __future__ import annotations

import json
import math
from decimal import Decimal
from fractions import Fraction
from typing import Any

__all__ = [
    "loads_exact",
    "to_exact",
    "json_type",
    "is_integer_value",
    "json_equal",
    "json_hash_key",
    "canonical_json",
    "fmt_num",
]


def _parse_number(s: str) -> Fraction:
    # Fraction accepts decimal + scientific notation strings directly and
    # exactly (no float round-trip).
    return Fraction(s)


def loads_exact(text: str | bytes) -> Any:
    """Parse JSON keeping all numbers exact (ints stay int, decimals → Fraction)."""
    if isinstance(text, bytes):
        text = text.decode("utf-8")
    return json.loads(text, parse_float=_parse_number, parse_int=int)


def to_exact(value: Any) -> Any:
    """Normalize an arbitrary parsed/python value tree into the exact model.

    Floats become Fractions *of their exact binary value* (float→Fraction is
    exact); Decimals convert exactly. Used when instances arrive pre-parsed
    (e.g. from Arrow/pandas) rather than as JSON text.
    """
    if isinstance(value, bool) or value is None or isinstance(value, (str, int)):
        return value
    if isinstance(value, float):
        if math.isnan(value) or math.isinf(value):
            raise ValueError(f"non-finite number not representable in JSON: {value}")
        return Fraction(value)
    if isinstance(value, Decimal):
        return Fraction(value)
    if isinstance(value, Fraction):
        return value
    if isinstance(value, (list, tuple)):
        return [to_exact(v) for v in value]
    if isinstance(value, dict):
        return {str(k): to_exact(v) for k, v in value.items()}
    raise TypeError(f"unsupported value type for JSON model: {type(value)!r}")


def json_type(value: Any) -> str:
    """JSON type name of a value; integer-valued numbers report 'integer'.

    Matches reference semantics (reference: utils.go getDataType): the caller
    treating ``integer ⊂ number`` is handled at the keyword level.
    """
    if value is None:
        return "null"
    if isinstance(value, bool):  # bool before int: bool is an int subclass
        return "boolean"
    if isinstance(value, int):
        return "integer"
    if isinstance(value, Fraction):
        return "integer" if value.denominator == 1 else "number"
    if isinstance(value, float):
        return "integer" if value.is_integer() else "number"
    if isinstance(value, str):
        return "string"
    if isinstance(value, list):
        return "array"
    if isinstance(value, dict):
        return "object"
    raise TypeError(f"unsupported value type: {type(value)!r}")


def is_integer_value(value: Any) -> bool:
    return json_type(value) == "integer"


def _as_fraction(value: Any) -> Fraction:
    if isinstance(value, bool):
        raise TypeError("boolean is not a number")
    if isinstance(value, Fraction):
        return value
    if isinstance(value, int):
        return Fraction(value)
    if isinstance(value, float):
        return Fraction(value)
    raise TypeError(f"not a number: {type(value)!r}")


def json_equal(a: Any, b: Any) -> bool:
    """JSON value equality (numbers by value, bool != number)."""
    a_bool = isinstance(a, bool)
    b_bool = isinstance(b, bool)
    if a_bool or b_bool:
        return a_bool and b_bool and a == b
    a_num = isinstance(a, (int, float, Fraction))
    b_num = isinstance(b, (int, float, Fraction))
    if a_num or b_num:
        if not (a_num and b_num):
            return False
        return _as_fraction(a) == _as_fraction(b)
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, str):
        return isinstance(b, str) and a == b
    if isinstance(a, list):
        if not isinstance(b, list) or len(a) != len(b):
            return False
        return all(json_equal(x, y) for x, y in zip(a, b))
    if isinstance(a, dict):
        if not isinstance(b, dict) or a.keys() != b.keys():
            return False
        return all(json_equal(v, b[k]) for k, v in a.items())
    return a == b


def json_hash_key(value: Any) -> Any:
    """A hashable key such that json_equal(a,b) ⇒ key(a) == key(b).

    Analogue of the reference's collision-safe structural hash with tag bytes
    (reference: unique_items.go hashJSONValue); we build a hashable tagged
    tuple instead of a byte stream.
    """
    if value is None:
        return ("z",)
    if isinstance(value, bool):
        return ("b", value)
    if isinstance(value, (int, float, Fraction)):
        f = _as_fraction(value)
        return ("n", f.numerator, f.denominator)
    if isinstance(value, str):
        return ("s", value)
    if isinstance(value, list):
        return ("a", tuple(json_hash_key(v) for v in value))
    if isinstance(value, dict):
        return (
            "o",
            tuple(sorted((k, json_hash_key(v)) for k, v in value.items())),
        )
    raise TypeError(f"unsupported value type: {type(value)!r}")


def _canon(value: Any) -> Any:
    """Convert exact model back to plain JSON-serializable values."""
    if isinstance(value, Fraction):
        if value.denominator == 1:
            return int(value)
        return float(value)  # display only — comparisons never use this path
    if isinstance(value, list):
        return [_canon(v) for v in value]
    if isinstance(value, dict):
        return {k: _canon(v) for k, v in value.items()}
    return value


def canonical_json(value: Any) -> str:
    """Deterministic JSON rendering (sorted keys) for params/reporting."""
    return json.dumps(_canon(value), sort_keys=True, separators=(",", ":"), ensure_ascii=False)


def fmt_num(v: Any) -> str:
    """A number (or boolean) as violation params print it: integral values
    without a fraction part, others as their float form."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, Fraction):
        if v.denominator == 1:
            return str(v.numerator)
        return str(float(v))
    return str(v)
