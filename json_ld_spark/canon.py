"""Canonical forms: numbers, JSON, deterministic blank-node labels.

Reference parity:
  - XSD canonical double: crates/core/src/rdf/mod.rs:290-293 (pretty_dtoa
    shortest digits, forced E notation, capital E) per
    https://www.w3.org/TR/xmlschema11-2/#f-doubleLexmap
  - ECMAScript number-to-string (ryu-js) for @json literal canonicalization:
    crates/core/src/object/value.rs:106-110
  - canonical JSON (sorted keys, compact separators): JCS-style, used for
    @json RDF literals (rdf/mod.rs, json canonicalization) and for
    order-insensitive document hashing.
  - hash-based blank-node labels replace the reference's sequential
    Generator (crates/core/src/flattening/environment.rs) for distributed
    determinism (see SURVEY.md §1.3 "Generator").
"""

from __future__ import annotations

import json as _json

import hashlib
import math
from typing import Any

I64_MIN = -(2**63)
I64_MAX = 2**63 - 1


def _digits_and_exp(value: float) -> tuple[str, str, int]:
    """Return (sign, digits, n) where value = sign 0.digits * 10^n.

    digits has no trailing zeros; uses Python repr (shortest round-trip).
    """
    r = repr(float(value))
    sign = ""
    if r.startswith("-"):
        sign, r = "-", r[1:]
    if "e" in r or "E" in r:
        mant, _, exp = r.lower().partition("e")
        e = int(exp)
    else:
        mant, e = r, 0
    if "." in mant:
        int_part, _, frac_part = mant.partition(".")
    else:
        int_part, frac_part = mant, ""
    digits = (int_part + frac_part).lstrip("0")
    # n = exponent such that value = 0.digits * 10^n
    n = len(int_part.lstrip("0")) + e if int_part.lstrip("0") else e - (
        len(frac_part) - len(frac_part.lstrip("0"))
    )
    digits = digits.rstrip("0")
    if not digits:
        digits, n = "0", 1
    return sign, digits, n


def xsd_canonical_double(value: float) -> str:
    """Canonical xsd:double lexical form: shortest digits, forced capital-E.

    Examples: 1.0 -> "1.0E0", 110 -> "1.1E2", 0.5 -> "5.0E-1",
    -0.0 -> "-0.0E0", 1e21 -> "1.0E21".
    """
    f = float(value)
    if math.isnan(f):
        return "NaN"
    if math.isinf(f):
        return "INF" if f > 0 else "-INF"
    if f == 0.0:
        return "-0.0E0" if math.copysign(1.0, f) < 0 else "0.0E0"
    sign, digits, n = _digits_and_exp(f)
    mantissa = digits[0] + "." + (digits[1:] if len(digits) > 1 else "0")
    return f"{sign}{mantissa}E{n - 1}"


def ecmascript_number(value: float) -> str:
    """ECMAScript Number::toString(10) (the ryu-js form used for @json).

    Integers with |v| < 1e21 print without exponent or fraction.
    """
    f = float(value)
    if math.isnan(f):
        return "NaN"
    if math.isinf(f):
        return "Infinity" if f > 0 else "-Infinity"
    if f == 0.0:
        return "0"
    if f == int(f) and abs(f) < 1e21:
        return str(int(f))
    sign, digits, n = _digits_and_exp(f)
    k = len(digits)
    if k <= n <= 21:
        return sign + digits + "0" * (n - k)
    if 0 < n <= 21:
        return sign + digits[:n] + "." + digits[n:]
    if -6 < n <= 0:
        return sign + "0." + "0" * (-n) + digits
    # exponent form
    mant = digits[0] + ("." + digits[1:] if k > 1 else "")
    e = n - 1
    return f"{sign}{mant}e{'+' if e >= 0 else '-'}{abs(e)}"


def canonical_json(value: Any) -> str:
    """Deterministic compact JSON: sorted keys, ECMAScript numbers.

    Used for rdf:JSON literal lexical forms and content hashing.
    """
    out: list[str] = []
    _write_canonical(value, out)
    return "".join(out)


def _escape_json_string(s: str) -> str:
    # json.dumps (C-accelerated) produces exactly the canonical escaping:
    # two-char forms for \" \\ \n \r \t \b \f, lowercase \u00xx for other
    # control chars, everything else verbatim (ensure_ascii=False).
    # The hand-rolled loop this replaces was 36% of engine CPU.
    return _json.dumps(s, ensure_ascii=False)


def _write_canonical(value: Any, out: list[str]) -> None:
    if value is None:
        out.append("null")
    elif value is True:
        out.append("true")
    elif value is False:
        out.append("false")
    elif isinstance(value, int):
        out.append(str(value))
    elif isinstance(value, float):
        out.append(ecmascript_number(value))
    elif isinstance(value, str):
        out.append(_escape_json_string(value))
    elif isinstance(value, (list, tuple)):
        out.append("[")
        for i, item in enumerate(value):
            if i:
                out.append(",")
            _write_canonical(item, out)
        out.append("]")
    elif isinstance(value, dict):
        out.append("{")
        for i, key in enumerate(sorted(value.keys())):
            if i:
                out.append(",")
            out.append(_escape_json_string(key))
            out.append(":")
            _write_canonical(value[key], out)
        out.append("}")
    else:
        raise TypeError(f"not JSON-serializable: {type(value)!r}")


def content_hash(value: Any) -> str:
    """sha256 hex of the canonical JSON form (order-insensitive for sets
    when callers sort arrays first)."""
    return hashlib.sha256(canonical_json(value).encode("utf-8")).hexdigest()


def sort_key_json(value: Any) -> str:
    """Stable sort key for set-semantics array normalization."""
    return canonical_json(value)


def normalize_for_set_equality(value: Any) -> Any:
    """Recursively sort arrays (set semantics of ExpandedDocument,
    reference crates/core/src/document/expanded.rs:294-301) and return a
    structure whose canonical_json is order-insensitive at the top level
    of every array of objects.

    NOTE: JSON-LD @list arrays are order-sensitive; golden comparisons on
    expanded documents apply this only at levels where set semantics hold.
    For our golden suite we compare with `expanded_equals` in
    json_ld_spark.compare which is multiset-aware.
    """
    if isinstance(value, dict):
        return {k: normalize_for_set_equality(v) for k, v in value.items()}
    if isinstance(value, list):
        items = [normalize_for_set_equality(v) for v in value]
        return sorted(items, key=sort_key_json)
    return value
